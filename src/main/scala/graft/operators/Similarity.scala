package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.Tables
import graft.functions.TextFns.{tokens, tokensSql}

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k, sign-LSH bucketed ANN, embedding near-dup
  * pairs, and per-label centroid analytics.
  *
  * Driver-mandated training-data-pipeline extensions (BASELINE.json north
  * star "similarity search"). All vector math is fixed-point
  * (`floor(x·10⁴)` as int64): dot products and norms are exact integer
  * arithmetic, and the only floating-point steps (one multiply, one sqrt,
  * one divide) are correctly-rounded IEEE ops — bit-identical in Spark and
  * DuckDB, so every query here is oracle-checkable.
  *
  * Scale posture (100 TB):
  *  - top-k: the query set is tiny and explicitly `broadcast()`; the
  *    candidate side streams (no shuffle of the big table). Per-query
  *    windows are fine for few queries; a large query batch would switch
  *    to partial top-k per partition + merge (same plan Spark generates
  *    for window-over-small-partition-count via AQE).
  *  - ANN: sign-LSH buckets bound candidate sets; the bucket join
  *    shuffles both sides on a `bits`-wide key ([[LshBitsConf]], default
  *    8) — at real scale bits grows with log(n) to keep buckets bounded;
  *    skewed buckets (dense regions) fall to AQE skew-join.
  *  - near-dup: only intra-bucket pairs are generated — never all-pairs.
  *  - centroids: 64 partial-aggregable positional sums in one groupBy
  *    (map-side combine; only labels×64 longs shuffle), 10-row centroid
  *    table broadcast — no driver-side collect at any size.
  *
  * The reference itself has no vector surface; its embedding-shaped state
  * (the [B,3,224,224] batch tensor, SURVEY.md §1.2) never crosses operator
  * boundaries.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  val Dim = 64
  private val NQueries = 8

  /** Fixed-point view of a float vector: `floor(x·10⁴)` per component.
    * (`floor`, not `round`: round-half ties break differently across
    * engines; floor is exact everywhere.) Spark side lives in
    * [[Features.scaledEmb]]; this is the DuckDB twin. */
  private def scaledVecSql(e: String): String =
    s"list_transform($e, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"

  /** Exact int64 dot product of two scaled vectors (|x|≤4·10³ ⇒
    * |dot| ≤ 64·1.7·10⁷ ≪ 2⁵³). Uses the engine's native codegen'd
    * [[graft.functions.LongDotProduct]] — the equivalent
    * `aggregate(zip_with(a,b,(x,y)=>x*y),…)` form allocates an
    * intermediate array per row and interprets its lambdas per element. */
  private[operators] def dotL(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotL(a, b)

  private def dotLSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, $Dim + 1), i -> ($a)[i] * ($b)[i])) AS BIGINT)"

  /** Deterministic cosine from exact integer dot/norms: one multiply, one
    * sqrt, one divide — all correctly-rounded IEEE doubles. */
  private[operators] def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast(DoubleType) / sqrt(n2a.cast(DoubleType) * n2b.cast(DoubleType))

  private def cosineSql(dot: String, n2a: String, n2b: String): String =
    s"(CAST($dot AS DOUBLE) / sqrt(CAST($n2a AS DOUBLE) * CAST($n2b AS DOUBLE)))"

  /** Base projection: vec_id, label, scaled vector, exact squared norm —
    * derived once per session via the managed [[Features]] cache (all five
    * vector queries read it, most from both sides of a self-join). */
  private def scaledEmb(spark: SparkSession, dir: String): DataFrame =
    Features.scaledEmb(spark, dir)

  private val scaledEmbSql =
    s"""SELECT vec_id, label, sv, ${dotLSql("sv", "sv")} AS n2
       |FROM (SELECT vec_id, label, ${scaledVecSql("embedding")} AS sv
       |      FROM embeddings)""".stripMargin

  /** Default sign-LSH bucket width: 8 sign bits ⇒ ~n/256 per bucket on
    * the testdata (verified uniform). */
  val DefaultLshBits = 8

  /** Session conf for the sign-LSH bucket width shared by q39's ANN and
    * q40's near-dup blocking. The scale knob the scaladoc below names:
    * buckets hold ~n/2^bits candidates, so bits grows with log(n) to
    * keep per-bucket work bounded — sf0.1's 6k vectors sit at 8 bits; a
    * 100 TB corpus (10⁹+ vectors) wants 20+. Wider buckets are strictly
    * finer partitions of narrower ones (each extra bit splits every
    * bucket in two), so widening can only DROP candidate pairs — and
    * near-identical vectors agree on every leading-dim sign, so planted
    * near-dups survive any width (spec-proven in `SignLshWidthSpec`). */
  val LshBitsConf = "spark.graft.similarity.lshBits"

  private def lshBits(spark: SparkSession): Int =
    spark.conf.getOption(LshBitsConf) match {
      case None => DefaultLshBits
      case Some(raw) =>
        // Loud rejection, not silent fallback: a user who set the conf
        // believes they changed the blocking key — a typo ("twelve") or
        // out-of-range value ("0", "100") must not quietly run at 8.
        val b = raw.trim.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"$LshBitsConf must be an integer in [1, $Dim], got '$raw'"))
        require(b >= 1 && b <= Dim,
          s"$LshBitsConf must be in [1, $Dim], got $b")
        b
    }

  /** Sign-LSH bucket: `bits` sign bits from the first `bits` components.
    * A random projection in spirit — the embedding components are already
    * dense rotations of the latent space, so leading-dim signs partition
    * uniformly. */
  private def signBucket(sv: Column, bits: Int = DefaultLshBits): Column =
    signBucketAt(sv, bits, 0)

  /** Sign bucket over components [offset, offset+bits) — band b of a
    * multi-band index reads offset = b·bits, so bands are sign
    * patterns over DISJOINT component ranges (independent hash tables,
    * the minhash-banding construction on the vector side). */
  private def signBucketAt(sv: Column, bits: Int, offset: Int): Column =
    (0 until bits).map(j =>
      when(element_at(sv, offset + j + 1) > 0L, lit(1L << j))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  private val signBucketSql: String =
    (0 until 8).map(j =>
      s"(CASE WHEN sv[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")

  // ---------------------------------------------------------------- q38
  /** Brute-force cosine top-10 for each of the first 8 vectors (the query
    * set), scanning all other vectors as candidates. The exact-scoring
    * baseline that q39's ANN is judged against. */
  private def q38(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(qs))
      .withColumn("cos", cosine(dotL(col("sv"), col("qv")), col("n2"), col("qn2")))
      .select(col("q_id"), col("vec_id"), col("label"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .orderBy(col("q_id"), col("rank"))
  }

  private val q38Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.label,
       |    ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")} AS cos
       |  FROM emb c CROSS JOIN emb q
       |  WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries)
       |SELECT q_id, vec_id, label, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Sign-LSH ANN top-5: candidates restricted to the query's sign
    * bucket (~n/256 of the table), exact cosine within the bucket. The
    * scale path: candidate generation is a bucket-equi-join, not a scan. */
  private def q39(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
      .withColumn("bkt", signBucket(col("sv"), lshBits(spark)))
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"),
        col("n2").as("qn2"), col("bkt").as("qbkt"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.filter(col("vec_id") >= NQueries)
      .join(broadcast(qs), col("bkt") === col("qbkt"))
      .withColumn("cos", cosine(dotL(col("sv"), col("qv")), col("n2"), col("qn2")))
      .select(col("q_id"), col("vec_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("q_id"), col("rank"))
  }

  private val q39Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")} AS cos
       |  FROM emb c JOIN emb q ON c.bkt = q.bkt
       |  WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries)
       |SELECT q_id, vec_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q113
  /** ANN RECALL AUDIT — the sketch-fidelity audit (q96 MinHash, q98
    * SimHash) for the VECTOR index: per query, how much of the exact
    * brute-force top-5 (q38's baseline, rank ≤ 5) the production
    * sign-LSH ANN (q39) actually returns, with the bucket's candidate
    * count as the diagnostic denominator. This is the number an ANN
    * deployment watches when tuning `lshBits`: recall collapsing on
    * some queries while candidates stay plentiful means unlucky sign
    * boundaries (q44's multi-probe IVF is the fix); recall collapsing
    * WITH the candidate count means the buckets got too fine for the
    * corpus size. Riding the audit in-engine keeps it honest — both
    * legs are the production queries, not re-derivations.
    *
    * Scale posture: both legs are the production plans (q38's
    * broadcast-query scan is the expensive exact side — at 100 TB the
    * audit runs on a query SAMPLE, which is exactly how recall is
    * monitored in practice); the overlap join and candidate count are
    * keyed by (q_id, vec_id) over ≤ k·queries rows, and the report is
    * queries-sized. */
  private def q113(spark: SparkSession, dir: String): DataFrame = {
    val exact5 = q38(spark, dir).filter(col("rank") <= 5)
      .select(col("q_id").as("e_qid"), col("vec_id").as("e_vid"))
    val ann = q39(spark, dir)
      .select(col("q_id").as("a_qid"), col("vec_id").as("a_vid"))
    val emb = scaledEmb(spark, dir)
      .withColumn("bkt", signBucket(col("sv"), lshBits(spark)))
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("bkt").as("qbkt"))
    val cand = emb.filter(col("vec_id") >= NQueries)
      .join(broadcast(qs), col("bkt") === col("qbkt"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_candidates"))
    val annN = ann.groupBy(col("a_qid")).agg(count(lit(1)).as("n_ann"))
    val hits = ann.join(exact5,
        col("a_qid") === col("e_qid") && col("a_vid") === col("e_vid"))
      .groupBy(col("a_qid")).agg(count(lit(1)).as("n_hit"))
    qs.select(col("q_id"))
      .join(cand, Seq("q_id"), "left")
      .join(annN.toDF("q_id", "n_ann"), Seq("q_id"), "left")
      .join(hits.toDF("q_id", "n_hit"), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        floor(lit(1000000.0) *
          coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / lit(5.0))
          .cast(LongType).as("recall_u"))
      .orderBy(col("q_id"))
  }

  private lazy val q113Sql =
    s"""WITH exact5 AS (
       |  SELECT q_id, vec_id FROM ($q38Sql) WHERE rank <= 5),
       |ann AS (SELECT q_id, vec_id FROM ($q39Sql)),
       |emb AS (SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |qs AS (SELECT vec_id AS q_id, bkt AS qbkt FROM emb
       |       WHERE vec_id < $NQueries),
       |cand AS (
       |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM emb c JOIN qs ON c.bkt = qs.qbkt
       |  WHERE c.vec_id >= $NQueries GROUP BY q_id),
       |ann_n AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_ann
       |          FROM ann GROUP BY q_id),
       |hits AS (
       |  SELECT a.q_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM ann a JOIN exact5 e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
       |  GROUP BY a.q_id)
       |SELECT qs.q_id,
       |  coalesce(c.n_candidates, 0) AS n_candidates,
       |  coalesce(n.n_ann, 0) AS n_ann,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  CAST(floor(1000000.0 * CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0)
       |    AS BIGINT) AS recall_u
       |FROM qs
       |LEFT JOIN cand c USING (q_id)
       |LEFT JOIN ann_n n USING (q_id)
       |LEFT JOIN hits h USING (q_id)
       |ORDER BY qs.q_id""".stripMargin

  // ---------------------------------------------------------------- q114
  /** CROSS-MODAL DEDUP-CONSISTENCY AUDIT — the encoder sanity check a
    * multimodal corpus runs after (re)embedding: take every VERIFIED
    * text near-dup pair (q35's MinHash decisions — the pairs the dedup
    * stack will collapse) and score the SAME pair in embedding space
    * via the vec_id↔doc_id relation q97 audits. Near-identical text
    * must embed near-identically; a verified text dup whose vectors
    * disagree (cosine below [[CrossModalAgreeCosine]]) flags a stale
    * embedding table, a mis-keyed batch, or an encoder that changed
    * under the corpus — each a silent corruption of every downstream
    * vector operation (SemDeDup q77, ANN serving q66, pruning q106).
    * Pairs with a missing vector on either side are counted, not
    * dropped — absence is an integrity finding (q97's orphan class),
    * not noise.
    *
    * On the synthetic testdata the embedding column is content-
    * independent by construction, so the audit reports full
    * disagreement — precisely the alarm it exists to raise; the
    * planted spec shows agreement when vectors do track content and a
    * single stale vector being caught.
    *
    * Scale posture: the pair set is banding-bounded (q35's candidates,
    * never all-pairs); two id-keyed joins against the embedding table
    * (co-located under id bucketing) and one single-row aggregate —
    * the corpus text never enters, and the embedding table is touched
    * only at the paired ids. */
  val CrossModalAgreeCosine = 0.5

  private def q114(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.queries("q35_minhash_lsh")(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val emb = scaledEmb(spark, dir)
    val ea = emb.select(col("vec_id").as("a_vid"), col("sv").as("a_sv"),
      col("n2").as("a_n2"))
    val eb = emb.select(col("vec_id").as("b_vid"), col("sv").as("b_sv"),
      col("n2").as("b_n2"))
    val scored = pairs
      .join(ea, col("doc_a") === col("a_vid"))
      .join(eb, col("doc_b") === col("b_vid"))
      .withColumn("cos_u",
        floor(lit(1000000.0) * cosine(dotL(col("a_sv"), col("b_sv")),
          col("a_n2"), col("b_n2"))).cast(LongType))
    val totals = pairs.agg(count(lit(1)).as("n_text_pairs"))
    scored.agg(
        count(lit(1)).as("n_scored"),
        sum(col("cos_u")).as("sum_cos_u"),
        min(col("cos_u")).as("raw_min_cos_u"),
        sum(when(col("cos_u") < (CrossModalAgreeCosine * 1000000).toLong,
          1L).otherwise(0L)).as("raw_n_disagree"))
      .crossJoin(broadcast(totals))
      .select(col("n_text_pairs"), col("n_scored"),
        (col("n_text_pairs") - col("n_scored")).as("n_unscored"),
        when(col("n_scored") > 0L,
          floor(col("sum_cos_u").cast(DoubleType) /
            col("n_scored").cast(DoubleType)).cast(LongType))
          .otherwise(0L).as("mean_cos_u"),
        coalesce(col("raw_min_cos_u"), lit(0L)).as("min_cos_u"),
        coalesce(col("raw_n_disagree"), lit(0L)).as("n_disagree"))
  }

  private lazy val q114Sql =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b FROM (${Dedup.oracles("q35_minhash_lsh")})),
       |emb AS ($scaledEmbSql),
       |scored AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(floor(1000000.0 *
       |      ${cosineSql(dotLSql("ea.sv", "eb.sv"), "ea.n2", "eb.n2")})
       |      AS BIGINT) AS cos_u
       |  FROM pairs p
       |  JOIN emb ea ON ea.vec_id = p.doc_a
       |  JOIN emb eb ON eb.vec_id = p.doc_b)
       |SELECT
       |  CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_text_pairs,
       |  CAST(count(*) AS BIGINT) AS n_scored,
       |  CAST((SELECT count(*) FROM pairs) - count(*) AS BIGINT)
       |    AS n_unscored,
       |  CAST(CASE WHEN count(*) > 0
       |    THEN floor(CAST(sum(cos_u) AS DOUBLE) / count(*))
       |    ELSE 0 END AS BIGINT) AS mean_cos_u,
       |  CAST(coalesce(min(cos_u), 0) AS BIGINT) AS min_cos_u,
       |  CAST(coalesce(sum(CASE WHEN cos_u <
       |    ${(CrossModalAgreeCosine * 1000000).toLong} THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS n_disagree
       |FROM scored""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Production near-duplicate cosine threshold: embedding pairs this
    * close are duplicates for curation purposes — the operator's DEFAULT,
    * so callers get near-dup semantics unless they opt out. */
  val NearDupCosine = 0.8

  /** Verify-harness fixture threshold ONLY: the synthetic testdata's
    * planted clusters spread to ~0.4 cosine, so exercising the operator's
    * pair-generation + filter machinery end-to-end against the oracle
    * needs a looser cut. Never a production setting. */
  val TestdataNearDupCosine = 0.35

  /** Session conf for the q40 pair BUDGET: with `maxPairs = k`, each
    * `a_id` keeps only its top-k partners by (cos desc, b_id asc) — a
    * deterministic total order, so the capped set is a function of the
    * data alone. Default ABSENT = uncapped (the oracle-pinned report
    * shape).
    *
    * Why it exists: q40 is the one query whose output is pair-shaped —
    * admitted pairs grow super-linearly when clusters densify (the
    * measured ~sf1 ratio is output-driven, 6.5–7.9×). Every DOWNSTREAM
    * consumer (q77's CC, the dedup decisions) is insensitive to
    * dropping a near-dup's 50th-closest twin, and at 100 TB a
    * report-shaped k·n output is the difference between a dashboard
    * artifact and a second corpus. The cap composes with the window's
    * partition key (a_id, uniform) — one window over the already-
    * bucketed pairs, no extra shuffle beyond the partition-by. */
  val MaxPairsConf = "spark.graft.neardup.maxPairs"

  private def maxPairs(spark: SparkSession): Option[Int] =
    spark.conf.getOption(MaxPairsConf).map { raw =>
      // Loud rejection, not silent fallback (same posture as lshBits):
      // a typo must not quietly run uncapped.
      val k = raw.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"$MaxPairsConf must be a positive integer, got '$raw'"))
      require(k >= 1, s"$MaxPairsConf must be >= 1, got $k")
      k
    }

  /** Multi-band width for the near-dup candidate index: B independent
    * sign tables over DISJOINT component ranges (band b = bits
    * [b·lshBits, (b+1)·lshBits)). Default 1 = the single-table index
    * the oracle pins. Why it exists, measured: at the 100× ScaleBench
    * density (10 clusters at within-cluster cos ≈ 0.8) a single
    * `bits`-wide table prunes candidates by only 0.795^bits — widening
    * it past ~16 bits starts dropping true near-dups (0.994^bits per
    * planted pair). Banding breaks the trade the way minhash banding
    * does: 2 bands × 32 bits keeps planted-dup recall at
    * 1−(1−0.994³²)² ≈ 0.97 while cutting cluster-pair candidates by
    * 2·0.795³² ≈ 10³× — the production setting for dense corpora,
    * demonstrated in the 100× sweep. */
  val LshBandsConf = "spark.graft.neardup.lshBands"

  private def lshBands(spark: SparkSession): Int =
    spark.conf.getOption(LshBandsConf) match {
      case None => 1
      case Some(raw) =>
        val b = raw.trim.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"$LshBandsConf must be a positive integer, got '$raw'"))
        require(b >= 1, s"$LshBandsConf must be >= 1, got $b")
        b
    }

  /** Embedding-cosine near-dup pairs: intra-bucket pairs with cosine ≥
    * `threshold` (default [[NearDupCosine]]) — the vector twin of
    * [[Dedup]]'s MinHash/SimHash text near-dup. Honors [[MaxPairsConf]]
    * (per-a_id top-k budget; absent = uncapped) and [[LshBandsConf]]
    * (candidates = same key in ANY band; verified pairs dedup before
    * the budget, and the cosine filter is identical, so banding only
    * moves RECALL/cost, never admits a below-threshold pair). */
  def embeddingNearDup(spark: SparkSession, dir: String,
      threshold: Double = NearDupCosine): DataFrame = {
    val pairs = nearDupPairsRaw(spark, dir, threshold)
    maxPairs(spark).fold(pairs)(applyPairBudget(pairs, _))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The verified near-dup pair stream BEFORE any budget or ordering —
    * shared by the q40 report (budget from [[MaxPairsConf]], global
    * order) and the q77 edge build (budget from the pre-flight guard,
    * order-free). */
  private def nearDupPairsRaw(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val bits = lshBits(spark)
    val bands = lshBands(spark)
    require(bands * bits <= Dim,
      s"$LshBandsConf ($bands) x $LshBitsConf ($bits) exceeds $Dim " +
        "vector components - bands read disjoint component ranges")
    val base = scaledEmb(spark, dir)
    val pairs =
      if (bands == 1) {
        // the single-table path the oracle pins, byte-for-byte
        val emb = base.withColumn("bkt", signBucket(col("sv"), bits))
        val a = emb.select(col("vec_id").as("a_id"), col("sv").as("a_sv"),
          col("n2").as("a_n2"), col("bkt").as("a_bkt"))
        val b = emb.select(col("vec_id").as("b_id"), col("sv").as("b_sv"),
          col("n2").as("b_n2"), col("bkt").as("b_bkt"))
        a.join(b, col("a_bkt") === col("b_bkt") && col("a_id") < col("b_id"))
          .withColumn("cos", cosine(dotL(col("a_sv"), col("b_sv")),
            col("a_n2"), col("b_n2")))
          .filter(col("cos") >= threshold)
          .select(col("a_id"), col("b_id"), col("cos"))
      } else {
        // B independent tables: explode each vector to its B (band,
        // key) rows, equi-join on both, verify, dedup the (a, b)
        // survivors (a pair caught by two bands verifies twice — B is
        // small, the distinct runs over verified survivors only)
        val emb = base.select(col("vec_id"), col("sv"), col("n2"),
          explode(array((0 until bands).map(bd =>
            struct(lit(bd).as("band"),
              signBucketAt(col("sv"), bits, bd * bits).as("bk"))): _*))
            .as("bb"))
          .select(col("vec_id"), col("sv"), col("n2"),
            col("bb.band").as("band"), col("bb.bk").as("bk"))
        val a = emb.select(col("vec_id").as("a_id"), col("sv").as("a_sv"),
          col("n2").as("a_n2"), col("band"), col("bk"))
        val b = emb.select(col("vec_id").as("b_id"), col("sv").as("b_sv"),
          col("n2").as("b_n2"), col("band"), col("bk"))
        a.join(b, Seq("band", "bk"))
          .filter(col("a_id") < col("b_id"))
          .withColumn("cos", cosine(dotL(col("a_sv"), col("b_sv")),
            col("a_n2"), col("b_n2")))
          .filter(col("cos") >= threshold)
          .select(col("a_id"), col("b_id"), col("cos"))
          .distinct()
      }
    pairs
  }

  /** Budget via the graft_topk bounded heap, NOT a rank window: the
    * window form shuffled AND sorted every verified pair before
    * trimming — measured 138.8 s at the ×400 embedding corpus, where
    * the 0.35 testdata threshold makes the verified pair set itself
    * quadratic in cluster size. The heap collapses each a_id to ≤ k
    * pairs MAP-SIDE, so at most k·|vectors| rows cross the budget's
    * shuffle however many pairs verify. Identical keep-set:
    * struct(cos, −b_id) ≡ the window's (cos DESC, b_id ASC)
    * (NearDupBudgetSpec pins budget semantics). */
  private[operators] def applyPairBudget(pairs: DataFrame,
      k: Int): DataFrame =
    pairs.groupBy(col("a_id"))
      .agg(graft.functions.TopKAgg.topK(
        struct(col("cos"), negate(col("b_id"))),
        struct(col("b_id"), col("cos")), k).as("top"))
      .select(col("a_id"), explode(col("top")).as("p"))
      .select(col("a_id"), col("p.b_id").as("b_id"), col("p.cos").as("cos"))

  private def q40(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(spark, dir, TestdataNearDupCosine)

  /** q40's pair generation as a reusable CTE body (no ORDER BY) — q77's
    * transitive closure builds on the same pair set. */
  private val q40CoreSql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql))
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  ${cosineSql(dotLSql("a.sv", "b.sv"), "a.n2", "b.n2")} AS cos
       |FROM emb a JOIN emb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |WHERE ${cosineSql(dotLSql("a.sv", "b.sv"), "a.n2", "b.n2")} >= $TestdataNearDupCosine""".stripMargin

  private val q40Sql = s"$q40CoreSql\nORDER BY a_id, b_id"

  // ---------------------------------------------------------------- q251
  /** NEAR-DUP THRESHOLD SENSITIVITY CURVE — the costing tool for the
    * single most consequential dedup knob. The ×400 sweep's finding
    * (BENCH_NOTES r16): at a loose cosine threshold on cluster-dense
    * embeddings, the TRUE near-dup pair set is quadratic in cluster
    * size — the threshold doesn't tune an index, it chooses the OUTPUT
    * VOLUME, and an operator who picks one blind commits a 100 TB run
    * to an unknown bill. This query prices every choice at once: the
    * same candidate stream q40 verifies anyway, histogrammed into
    * 0.05-wide cosine bands with exact reverse-cumulative admission
    * counts and micro-unit admitted fractions — read row `thr_u` as
    * "a threshold of thr_u micro-cosine admits n_admitted pairs
    * (admit_frac_u of all candidates)".
    *
    * Determinism: `floor(cos·20)` on the IEEE-deterministic cosine is
    * an exact band id; counts and reverse cumsums are int64; the
    * fraction is one floor-division per band.
    *
    * Scale posture: ONE pass over the intra-bucket candidate stream
    * (no threshold filter — the curve audits the filter), collapsed
    * map-side into a ≤41-cell histogram; the cumulative is a window
    * over those ≤41 rows (q211's histogram-cumsum shape, never the
    * pair stream). Costs exactly one q40 candidate enumeration —
    * the audit is as expensive as ONE dedup run at threshold −1, and
    * replaces the N trial runs it would otherwise take to find an
    * affordable threshold. */
  private def q251(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
      .withColumn("bkt", signBucket(col("sv"), lshBits(spark)))
    val a = emb.select(col("vec_id").as("a_id"), col("sv").as("a_sv"),
      col("n2").as("a_n2"), col("bkt").as("a_bkt"))
    val b = emb.select(col("vec_id").as("b_id"), col("sv").as("b_sv"),
      col("n2").as("b_n2"), col("bkt").as("b_bkt"))
    val hist = a.join(b,
        col("a_bkt") === col("b_bkt") && col("a_id") < col("b_id"))
      .withColumn("cos", cosine(dotL(col("a_sv"), col("b_sv")),
        col("a_n2"), col("b_n2")))
      .select(floor(col("cos") * 20.0).cast(LongType).as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
    val wCum = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_admitted", sum(col("n_pairs")).over(wCum))
      .withColumn("n_candidates",
        sum(col("n_pairs")).over(Window.partitionBy()).cast(LongType))
      .select(col("band"), (col("band") * 50000L).as("thr_u"),
        col("n_pairs"), col("n_admitted"),
        expr("(1000000 * n_admitted) div n_candidates").as("admit_frac_u"))
      .orderBy(col("band").desc)
  }

  private val q251Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |hist AS (
       |  SELECT CAST(floor(
       |      ${cosineSql(dotLSql("a.sv", "b.sv"), "a.n2", "b.n2")} * 20.0)
       |      AS BIGINT) AS band,
       |    count(*) AS n_pairs
       |  FROM emb a JOIN emb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |  GROUP BY 1)
       |SELECT band, band * 50000 AS thr_u, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY band DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_admitted,
       |  CAST((1000000 * CAST(sum(n_pairs) OVER (ORDER BY band DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
       |    // CAST(sum(n_pairs) OVER () AS BIGINT) AS BIGINT) AS admit_frac_u
       |FROM hist
       |ORDER BY band DESC""".stripMargin

  /** q251's candidate-stream band histogram for ONE increment: the new
    * micro-batch's pairs against the standing corpus (every cross pair
    * counted once — each unordered pair has exactly one "new" end)
    * plus its own intra-batch pairs (a_id < b_id), both under the SAME
    * bucket key and cosine as batch q251 — the streaming threshold-
    * curve monitor sums these increments, so stream and batch
    * histograms are equal by construction over any prefix
    * (`ThresholdCurveStreamsSpec` pins the equality per boundary).
    * Both inputs must carry (vec_id, sv, n2). */
  private[graft] def curveBandCounts(spark: SparkSession,
      newVecs: DataFrame, standing: DataFrame): DataFrame = {
    val bits = lshBits(spark)
    def keyed(df: DataFrame, p: String) =
      df.select(col("vec_id").as(s"${p}_id"), col("sv").as(s"${p}_sv"),
        col("n2").as(s"${p}_n2"),
        signBucket(col("sv"), bits).as(s"${p}_bkt"))
    val a = keyed(newVecs, "a")
    val bNew = keyed(newVecs, "b")
    val bOld = keyed(standing, "b")
    val cross = a.join(bOld, col("a_bkt") === col("b_bkt"))
    val intra = a.join(bNew,
      col("a_bkt") === col("b_bkt") && col("a_id") < col("b_id"))
    cross.unionByName(intra)
      .withColumn("cos", cosine(dotL(col("a_sv"), col("b_sv")),
        col("a_n2"), col("b_n2")))
      .select(floor(col("cos") * 20.0).cast(LongType).as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
  }

  // ---------------------------------------------------------------- q252
  /** Near-IDENTICAL cosine threshold: the scale-regime setting for the
    * cell-blocked pair listing below. Chosen off q251's curve on the
    * generated scale corpus: the [0.95, 1.0] band holds EXACTLY the
    * planted near-identical duplicates (output linear in corpus size),
    * while [0.85, 0.95) is the quadratic within-cluster bulk — the
    * threshold where "list the pairs" stops being a second corpus. */
  val NearIdenticalCosine = 0.95

  /** Production band geometry for [[cellBlockedNearDup]]: 2 disjoint
    * 32-bit sign bands. Per-bit sign agreement is 1 − acos(cos)/π, so a
    * near-identical pair (cos ≈ 1 − 10⁻⁶, disagreement ~6·10⁻⁴/bit)
    * survives a 32-bit band with p ≈ 0.98 and EITHER of two bands with
    * p ≈ 0.9996 — while a within-cluster non-dup at cos ≈ 0.8
    * (agreement 0.795/bit) collides with p ≈ 2·0.795³² ≈ 1.3·10⁻³.
    * That asymmetry is the whole design: the wide band is a candidate
    * filter only the near-identical regime passes. */
  val NearIdentBits = 32
  val NearIdentBands = 2

  /** Verify-harness fixture knobs ONLY (the q40 posture one regime up):
    * the synthetic testdata has no planted near-identical pairs — its
    * densest pairs sit at cos ≈ 0.5 — so exercising the cell+band
    * machinery end-to-end against the oracle needs a loose cut and
    * narrow bands (4 bands × 2 bits, τ = 0.4 ⇒ 13 rows at sf0.01,
    * 223 at sf0.1). Never production settings. */
  private val FixtureNearIdentCosine = 0.4
  private val FixtureNearIdentBits = 2
  private val FixtureNearIdentBands = 4

  /** CELL-BLOCKED near-identical pair listing — the scale-regime
    * answer to the ×400 finding that q40's loose-threshold listing is
    * quadratic-OUTPUT-bound (the r16 sweep measured ×185 at 400× rows:
    * at cos ≥ 0.35 on a cluster-dense corpus the true pair set itself
    * grows as cluster², and no blocking scheme outruns its own output).
    * In the near-identical regime (τ = [[NearIdenticalCosine]]) the
    * true output is linear — the planted/true duplicates — and the
    * problem becomes PRUNING CANDIDATES BEFORE VERIFICATION, which is
    * exactly what the q44/q137 index family is for:
    *
    *  - coarse IVF cell ([[ivfAssigned]], the q44 index build): a
    *    candidate pair must share its nearest-centroid cell — the
    *    data-ADAPTIVE prune (cross-cluster sign-key collisions die
    *    here, and a trained codebook slots in via [[IvfCodebookConf]]
    *    without changing the plan);
    *  - wide multi-band sign keys ([[NearIdentBits]]×[[NearIdentBands]]
    *    over disjoint component ranges): the data-OBLIVIOUS prune that
    *    only near-identical geometry survives (math at the constants
    *    above);
    *  - exact int64-scaled cosine verification ONLY on survivors, the
    *    same verify q40 runs — banding moves RECALL/cost, never admits
    *    a below-threshold pair.
    *
    * Scale posture (100 TB): the corpus shuffles once per band on
    * (cell, band, key) — bounded fan-out, no all-pairs, no window, no
    * sort; candidate volume is Σ_bucket |bucket|² with buckets split
    * by BOTH quantizers, and the verified output is linear by regime.
    * Measured (ScaleBench `nearident` phase, BENCH_NOTES r17): the
    * ×400 corpus (800k vectors) lists its 8,003 near-identical pairs
    * in 13.5 s = ×8.31 of sf0.1 — where the loose-regime q40 listing
    * measured 121.8 s = ×185 — with planted recall 7999/8000 = 0.9999
    * (the single miss is the predicted band/cell boundary loss,
    * audited against planted ground truth).
    * `CellBlockedNearDupSpec` pins candidate-subset semantics, planted
    * recall, and the plan shape. */
  def cellBlockedNearDup(spark: SparkSession, dir: String,
      threshold: Double = NearIdenticalCosine,
      bits: Int = NearIdentBits, bands: Int = NearIdentBands): DataFrame = {
    require(bits >= 1 && bands >= 1 && bands * bits <= Dim,
      s"cellBlockedNearDup: bands ($bands) x bits ($bits) must fit in " +
        s"$Dim vector components (disjoint ranges)")
    val keyed = ivfAssigned(spark, dir)
      .select(col("vec_id"), col("sv"), col("n2"), col("cell"),
        explode(array((0 until bands).map(bd =>
          struct(lit(bd).as("band"),
            signBucketAt(col("sv"), bits, bd * bits).as("bk"))): _*))
          .as("bb"))
      .select(col("vec_id"), col("sv"), col("n2"), col("cell"),
        col("bb.band").as("band"), col("bb.bk").as("bk"))
    val a = keyed.select(col("vec_id").as("a_id"), col("sv").as("a_sv"),
      col("n2").as("a_n2"), col("cell"), col("band"), col("bk"))
    val b = keyed.select(col("vec_id").as("b_id"), col("sv").as("b_sv"),
      col("n2").as("b_n2"), col("cell"), col("band"), col("bk"))
    a.join(b, Seq("cell", "band", "bk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine(dotL(col("a_sv"), col("b_sv")),
        col("a_n2"), col("b_n2")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  private def q252(spark: SparkSession, dir: String): DataFrame =
    cellBlockedNearDup(spark, dir, FixtureNearIdentCosine,
      FixtureNearIdentBits, FixtureNearIdentBands)

  /** DuckDB CTE chain through the verified `pairs` set of
    * [[cellBlockedNearDup]] at explicit knobs — reuses q44's `assigned`
    * CTE chain (the same IVF index build) and the OR form of the
    * any-band candidate test (Spark's explode + equi-join + DISTINCT
    * admits exactly the same pair set). Shared by q252's listing and
    * q253's transitive closure. */
  private def cellBlockedCteChain(threshold: Double, bits: Int,
      bands: Int): String = {
    def key(off: Int): String =
      (0 until bits).map(j =>
        s"(CASE WHEN sv[${off + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("(", " + ", ")")
    val bandSel =
      (0 until bands).map(bd => s"${key(bd * bits)} AS k$bd").mkString(", ")
    val anyBand =
      (0 until bands).map(bd => s"a.k$bd = b.k$bd").mkString(" OR ")
    val cosStr = cosineSql(dotLSql("a.sv", "b.sv"), "a.n2", "b.n2")
    s"""$ivfAssignedSqlCtes,
       |keyed AS (SELECT vec_id, sv, n2, cell, $bandSel FROM assigned),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id, $cosStr AS cos
       |  FROM keyed a JOIN keyed b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id AND ($anyBand)
       |  WHERE $cosStr >= $threshold)""".stripMargin
  }

  private lazy val q252Sql =
    s"""WITH ${cellBlockedCteChain(FixtureNearIdentCosine,
          FixtureNearIdentBits, FixtureNearIdentBands)}
       |SELECT a_id, b_id, cos FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q253
  /** Memoized connected-component labels over the CELL-BLOCKED pair
    * graph — the near-identical regime's twin of [[embCcLabels]]. No
    * pre-flight guard is needed here BY CONSTRUCTION: the regime's
    * verified output is linear in corpus size (q252's ×400 row:
    * 8,003 pairs from 800k vectors), so the edge checkpoint holds
    * ~n/100 longs where the loose-regime graph held cluster². */
  private[operators] def cellBlockedCcLabels(spark: SparkSession,
      dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "cellBlockedCcLabels") {
      val edges = Features.cachedFrame(spark, dir, "cellBlockedEdges") {
        val pairs = cellBlockedNearDup(spark, dir, FixtureNearIdentCosine,
          FixtureNearIdentBits, FixtureNearIdentBands)
          .select(col("a_id"), col("b_id"))
        pairs.union(pairs.select(col("b_id"), col("a_id")))
          .toDF("src", "dst").localCheckpoint()
      }
      Dedup.ccLabelsAuto(edges).labels
    }

  /** NEAR-IDENTICAL SEMANTIC DEDUP DECISIONS — the regime trilogy's
    * product step: q251 PRICES the threshold, q252 LISTS the
    * cell-blocked pairs, and this query ships the per-vector
    * KEEP/CANONICAL table a 100 TB dedup run actually writes (q77's
    * decision semantics, computed over the pair graph whose
    * materialization is linear BY REGIME instead of guarded after the
    * fact). Same decision assembly as q77: corpus LEFT JOIN the tiny
    * memoized CC label table; oracle = the recursive-CTE closure over
    * q252's own pair SQL. */
  private def q253(spark: SparkSession, dir: String): DataFrame =
    decisionsOverLabels(spark, dir, cellBlockedCcLabels(spark, dir))

  /** q77's decision assembly over an arbitrary label table: corpus
    * LEFT JOIN tiny CC labels → (vec_id, label, canonical_vec, keep). */
  private def decisionsOverLabels(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame =
    scaledEmb(spark, dir).select(col("vec_id"), col("label"))
      .join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("lbl"), col("vec_id")).as("canonical_vec"))
      .withColumn("keep", col("canonical_vec") === col("vec_id"))
      .orderBy(col("vec_id"))

  /** q253 at EXPLICIT knobs (un-memoized) — the ScaleBench `nearident`
    * phase runs this at the production regime (τ = 0.95, 2×32-bit
    * bands) to time the full trilogy product on the ×400 corpus:
    * cell-blocked pairs → CC → keep/canonical decisions. */
  private[graft] def nearIdenticalDecisions(spark: SparkSession,
      dir: String, threshold: Double = NearIdenticalCosine,
      bits: Int = NearIdentBits, bands: Int = NearIdentBands): DataFrame = {
    val pairs = cellBlockedNearDup(spark, dir, threshold, bits, bands)
      .select(col("a_id"), col("b_id"))
    val edges = pairs.union(pairs.select(col("b_id"), col("a_id")))
      .toDF("src", "dst").localCheckpoint()
    decisionsOverLabels(spark, dir, Dedup.ccLabelsAuto(edges).labels)
  }

  private lazy val q253Sql =
    s"""WITH RECURSIVE
       |${cellBlockedCteChain(FixtureNearIdentCosine,
          FixtureNearIdentBits, FixtureNearIdentBands)},
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL
       |  SELECT b_id AS src, a_id AS dst FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
       |base AS ($scaledEmbSql)
       |SELECT b.vec_id, b.label,
       |  coalesce(l.lbl, b.vec_id) AS canonical_vec,
       |  coalesce(l.lbl, b.vec_id) = b.vec_id AS keep
       |FROM base b
       |LEFT JOIN labels l ON l.id = b.vec_id
       |ORDER BY b.vec_id""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Per-label centroid table: (c_label, cs: array<int64>, cn2) — exact
    * per-dim int64 sums, computed as [[Dim]] partial-aggregable `sum`
    * aggregates in ONE groupBy (no positional explode, no n×64-row
    * shuffle: the map side pre-aggregates, only `labels × 64` longs cross
    * the wire), then assembled back into an array. The 10-row result is
    * broadcast to every consumer. */
  private def centroids(emb: DataFrame): DataFrame = {
    val sums = emb.groupBy(col("label").as("c_label"))
      .agg(sum(element_at(col("sv"), 1)).as("c0"),
        (1 until Dim).map(i => sum(element_at(col("sv"), i + 1)).as(s"c$i")): _*)
    sums.select(col("c_label"),
        array((0 until Dim).map(i => col(s"c$i")): _*).as("cs"))
      .withColumn("cn2", dotL(col("cs"), col("cs")))
  }

  /** [[centroids]] over the session-cached corpus, memoized per
    * (session, dir) — the label-mode coarse codebook. Eleven consumers
    * (q41/q44/q166/q213/q214, the assignment builds, the confident-
    * cos family, ADC LUTs) each re-ran the 32-task corpus aggregate to
    * derive the same ≤|labels|-row table (~100 ms of task-launch +
    * exchange per consumer at sf0.1, pure re-derivation); in
    * production the codebook is a stored index artifact read once, not
    * re-aggregated per query. Same builder, same rows — consumers are
    * bit-identical; callers that centroid a FILTERED corpus (the
    * half-split drift probes) keep calling [[centroids]] directly. */
  private[graft] def labelCentroids(spark: SparkSession,
      dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "labelCentroids") {
      centroids(scaledEmb(spark, dir))
    }

  /** Per-label centroid cohesion: exact per-dim int64 centroid sums
    * ([[centroids]], one partial-aggregable groupBy) → broadcast the
    * 10-row centroid table → every vector's cosine to its label centroid
    * (micro-fixed-point) → per-label average cohesion. Two shuffles of
    * label-keyed scalars total; the embedding table itself is read once
    * from the feature cache and never shuffled. */
  private def q41(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val cent = labelCentroids(spark, dir)
    val cosm = emb
      .join(broadcast(cent), col("label") === col("c_label"))
      .select(col("label"),
        floor(cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2")) * 1000000.0)
          .cast(LongType).as("cos_u"))
    cosm.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("cos_u")).as("sum_cos_u"),
        (sum(col("cos_u")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType) / 1000000.0).as("avg_cos"))
      .orderBy(col("label"))
  }

  private val q41Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |pos AS (
       |  SELECT vec_id, label,
       |    unnest(range(1, $Dim + 1)) AS pos, unnest(sv) AS v
       |  FROM emb),
       |cent AS (
       |  SELECT label AS c_label, pos AS c_pos, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |cn2 AS (
       |  SELECT c_label AS n_label, CAST(sum(s * s) AS BIGINT) AS cn2
       |  FROM cent GROUP BY 1),
       |dots AS (
       |  SELECT vec_id, label, CAST(sum(v * s) AS BIGINT) AS dotc
       |  FROM pos JOIN cent ON label = c_label AND pos = c_pos
       |  GROUP BY 1, 2),
       |cosm AS (
       |  SELECT d.label,
       |    CAST(floor(${cosineSql("d.dotc", "e.n2", "c.cn2")} * 1000000.0) AS BIGINT) AS cos_u
       |  FROM dots d
       |  JOIN cn2 c ON d.label = c.n_label
       |  JOIN emb e ON d.vec_id = e.vec_id)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(cos_u) AS BIGINT) AS sum_cos_u,
       |  CAST(sum(cos_u) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_cos
       |FROM cosm
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q44
  /** IVF-style ANN top-5: a coarse codebook (the per-label centroids,
    * exact int64 per-dim sums) partitions the space into cells; every
    * vector is assigned to its nearest centroid at "index build", and a
    * query probes only its own cell — the inverted-file structure of
    * IVF-Flat, expressed relationally. The alternative scale path to
    * q39's sign-LSH: data-adaptive cells instead of data-oblivious
    * hyperplanes.
    *
    * `nprobe`: how many nearest cells a QUERY probes (data vectors are
    * always indexed in exactly one cell — IVF-Flat). Single-probe has a
    * recall cliff for queries near a cell boundary (their true neighbors
    * sit just across it); `nprobe = 2` is the standard fix, trading
    * ~2× candidate work for the boundary recall (quantified against
    * q38's exact top-k in `IvfProbeSpec`). The q44 oracle row stays the
    * single-probe default. */
  /** The IVF index-build step alone: every vector with its assigned
    * cell (nearest coarse centroid). Cell assignment is the
    * deterministic hash-aggregable argmax (ties break on label id —
    * ord = struct(ccos, -c_label) is unique per vector since each
    * centroid appears once), one pass via the engine's
    * [[graft.functions.ArgMax]] TypedImperativeAggregate — NOT a
    * row_number window (shuffles AND sorts the whole fan-out by
    * vec_id) and NOT min-over-struct (its array-bearing buffer demotes
    * to SortAggregate, keeping the sort): ObjectHashAggregate's
    * map-side combine collapses the 10 candidate rows per vector to one
    * buffer before the shuffle, and nothing sorts. ONE definition —
    * q44's serving path and q130's index-health audit both read it. */
  private[graft] def ivfAssigned(spark: SparkSession, dir: String): DataFrame =
    // r17: memoized — q44/q130/q137/q166 and the serve path each
    // re-derived the same assignment fan-out per consumer. The label
    // codebook's assignment IS [[labelAssigned]]'s frame: one build
    // serves both families.
    if (ivfCodebookMode(spark) == "label") labelAssigned(spark, dir)
    else Features.cachedFrame(spark, dir, "ivfAssigned") {
      ivfAssignOver(scaledEmb(spark, dir), ivfCodebook(spark, dir))
    }

  /** [[ivfAssigned]]'s assignment applied to an ARBITRARY scaled frame
    * (carrying vec_id, sv, n2, and optionally label) against an
    * explicit codebook — the streaming ingest path assigns each
    * micro-batch against a FROZEN codebook through exactly this code,
    * so index-build and stream-ingest cell decisions cannot diverge. */
  private[graft] def ivfAssignOver(emb: DataFrame, cent: DataFrame): DataFrame = {
    val withLabel =
      if (emb.columns.contains("label")) emb
      else emb.withColumn("label", lit(null).cast("int"))
    val best = withLabel.crossJoin(broadcast(cent))
      .withColumn("ccos",
        cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("ccos"), negate(col("c_label"))),
        struct(col("c_label"), col("label"), col("sv"), col("n2"))).as("b"))
    best.select(col("vec_id"),
      col("b.label").as("label"), col("b.sv").as("sv"), col("b.n2").as("n2"),
      col("b.c_label").as("cell"))
  }

  /** The frozen coarse codebook artifact for streaming ingest: the
    * k-row per-label centroid table of the blessed corpus build (the
    * same ship-the-model posture as the quality gate's LM and the DSIR
    * log-ratio table — a stream-trained codebook would drift under the
    * very load imbalance the monitor exists to catch). */
  /** Coarse-codebook mode: `label` (default — per-label centroid sums,
    * the oracle-pinned index) or `trained` — the documented production
    * swap, now implemented: [[kmeansAuto]]'s converged codebook slots
    * in through the SAME assignment path (`ivfAssignOver`), changing
    * WHICH centroids, not the plan. Memoized per (session, dir): the
    * Lloyd loop runs once, the serving path reads the artifact. Loud
    * rejection on unknown values — a typo must not silently serve the
    * default index. */
  val IvfCodebookConf = "spark.graft.ivf.codebook"
  val IvfCells = 10

  private[graft] def ivfCodebook(spark: SparkSession, dir: String): DataFrame =
    spark.conf.getOption(IvfCodebookConf).map(_.trim).getOrElse("label") match {
      case "label" => labelCentroids(spark, dir)
      case "trained" =>
        Features.cachedFrame(spark, dir, "ivfTrainedCodebook") {
          kmeansAuto(scaledEmb(spark, dir), IvfCells, Dim).centroids
            .select(col("c_id").cast("int").as("c_label"),
              col("cv").as("cs"), col("cn2"))
        }
      case bad => throw new IllegalArgumentException(
        s"$IvfCodebookConf must be 'label' or 'trained', got '$bad'")
    }

  def ivfAnn(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 1): DataFrame = {
    val emb = scaledEmb(spark, dir)
    // Coarse codebook: per-label centroid sum-vectors as arrays (exact
    // int64 — no float drift in the index itself), via the same one-pass
    // positional-sum aggregation as q41.
    val cent = labelCentroids(spark, dir)
    val assigned = ivfAssigned(spark, dir)

    // Query probe list: the nprobe nearest cells per query. At nprobe=1
    // this is the query's own index cell (read straight off `assigned`,
    // keeping the default plan identical to the oracle row); for
    // nprobe>1 the tiny query set (NQueries rows × 10 centroids) ranks
    // its cells with a window — broadcast-sized, never the big table.
    val qs =
      if (nprobe <= 1)
        assigned.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("q_id"), col("sv").as("qv"),
            col("n2").as("qn2"), col("cell").as("qcell"))
      else {
        val wProbe = Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("c_label"))
        emb.filter(col("vec_id") < NQueries)
          .crossJoin(broadcast(cent))
          .withColumn("ccos",
            cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2")))
          .withColumn("prank", row_number().over(wProbe))
          .filter(col("prank") <= nprobe)
          .select(col("vec_id").as("q_id"), col("sv").as("qv"),
            col("n2").as("qn2"), col("c_label").as("qcell"))
      }
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.filter(col("vec_id") >= NQueries)
      .join(broadcast(qs), col("cell") === col("qcell"))
      .withColumn("cos", cosine(dotL(col("sv"), col("qv")), col("n2"), col("qn2")))
      .select(col("q_id"), col("vec_id"), col("cell"), col("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  private def q44(spark: SparkSession, dir: String): DataFrame =
    ivfAnn(spark, dir)

  // ------------------------------------------------------- serving path
  /** The IVF request index: [[ivfAssigned]]'s candidate rows as
    * [[ServeShards]] shards in [[IvfCells]] partitions keyed by cell,
    * so a request runs tasks only on the shards holding its probed
    * cells (at 100 TB: cell-partitioned index files, one read per
    * probed cell). Built once per (session, dir, input stamp, conf
    * state), so a flipped codebook serves its own index. */
  private[graft] def ivfShards(spark: SparkSession, dir: String)
      : ServeShards.ShardSet =
    Features.cachedValue(spark, Some(dir), "ivfShards") {
      ServeShards.ivfShards(spark, ivfAssigned(spark, dir)
        .filter(col("vec_id") >= NQueries)
        .select(col("vec_id"), col("sv"), col("n2"), col("cell"))
        .repartition(IvfCells, col("cell")))
    }

  /** Driver-memoized query panel: the ≤[[NQueries]] servable queries
    * with scaled vector, exact squared norm and index cell, collected
    * ONCE per (session, dir, conf state), so a request resolves its
    * query vectors and probe cells without any Spark job. */
  private def ivfQueryPanel(spark: SparkSession, dir: String)
      : Seq[ServeShards.Query] =
    Features.cachedValue(spark, Some(dir), "ivfQueryPanel") {
      ivfAssigned(spark, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id"), col("sv"), col("n2"), col("cell"))
        .collect().toSeq
        .map(r => ServeShards.Query(r.getLong(0),
          r.getSeq[Long](1).toArray, r.getLong(2), r.getInt(3)))
    }

  /** The servable query-id panel (the ids a `--queries`-less request
    * serve answers) — read off the driver-memoized [[ivfQueryPanel]],
    * no job. */
  private[graft] def servableQueryIds(spark: SparkSession,
      dir: String): Seq[Long] =
    ivfQueryPanel(spark, dir).map(_.qId)

  private val IvfRequestSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("cos", DoubleType),
    StructField("rank", IntegerType, nullable = false)))

  /** PER-REQUEST IVF retrieval — row-identical to q44 filtered to
    * `ids`: the query vectors and cells come off the driver-memoized
    * [[ivfQueryPanel]] (no job), and ONE Spark job runs only on the
    * [[ivfShards]] holding the requested queries' cells, scoring each
    * candidate against the queries of its own cell with q44's exact
    * cosine and keeping the top k per query ([[ServeShards.gather]]).
    * No DataFrame plan is built for the scan.
    *
    * EAGER: the result is a local frame ordered by `(q_id, rank)` on
    * the driver (rank = heap position + 1; `cell` is the query's own,
    * which every kept candidate shares). `ServeSpec` pins the row
    * identity and the job shape; the ScaleBench `serveconc` phase
    * measures it under FAIR request pools at 8/16/32 concurrent
    * drivers. */
  def serveIvfRequest(spark: SparkSession, dir: String, ids: Seq[Long],
      k: Int = 5): DataFrame = {
    import scala.jdk.CollectionConverters._
    val hit = ivfQueryPanel(spark, dir).filter(q => ids.contains(q.qId))
    val shards = ivfShards(spark, dir)
    val tops = ServeShards.gather(spark, Seq(shards -> shards.holding(hit)),
      hit, Map.empty, semOnIvf = true, k)
    val rows = hit.sortBy(_.qId).flatMap { q =>
      tops.getOrElse((ServeShards.SemLeg, q.qId), Nil).zipWithIndex
        .map { case ((id, cos), pos) =>
          org.apache.spark.sql.Row(q.qId, id, q.cell, cos, pos + 1) }
    }
    spark.createDataFrame(rows.asJava, IvfRequestSchema)
  }

  // ---------------------------------------------- fused serving path
  /** PRE-SCORED postings for the fused retriever's LEXICAL leg: `(w,
    * doc_id, c_u)` where `c_u` is q86's exact micro-unit BM25
    * contribution of term `w` to `doc_id` — fully computable at INDEX
    * time, because idf(df), avgdl and N are corpus constants and tf/dl
    * are per-posting (the expression is q144's verbatim, evaluated once
    * per posting instead of once per request; identical IEEE doubles,
    * identical floor). */
  private def fusedServePostings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val p = fusedServePanel(spark, dir)
    val k1 = TextAnalysis.Bm25K1; val b = TextAnalysis.Bm25B
    val tfAll = Features.docTokenCounts(spark, dir)
    val dfAll = tfAll.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val dls = docs.filter(col("doc_id") >= NQueries)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    tfAll.filter(col("doc_id") >= NQueries)
      .join(dls, "doc_id")
      .join(dfAll, "w")
      .withColumn("idf",
        log((lit(p.nDocs).cast(DoubleType) - col("df").cast(DoubleType)
          + 0.5) / (col("df").cast(DoubleType) + 0.5) + 1.0))
      .withColumn("avgdl",
        lit(p.sumDl).cast(DoubleType) / lit(p.nDocs).cast(DoubleType))
      .withColumn("c_u",
        floor(lit(1000000.0) * col("idf") *
          (col("tf").cast(DoubleType) * lit(k1 + 1.0)) /
          (col("tf").cast(DoubleType) + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast(DoubleType) / col("avgdl"))))
          .cast("long"))
      .select(col("w"), col("doc_id"), col("c_u"))
  }

  /** The fused request index: the corpus vectors (vec_id ≥
    * [[NQueries]], the exact cosine scan that IS q144's row-identity
    * contract) and the [[fusedServePostings]], as [[ServeShards]] shards
    * hash-partitioned by id, so a document's postings share one shard
    * and its per-query BM25 sum completes there (at 100 TB: postings
    * files bucketed by doc). Built once per (session, dir, input
    * stamp). */
  private def fusedShards(spark: SparkSession, dir: String)
      : ServeShards.ShardSet =
    Features.cachedValue(spark, Some(dir), "fusedShards") {
      ServeShards.corpusShards(spark,
        scaledEmb(spark, dir).filter(col("vec_id") >= NQueries),
        fusedServePostings(spark, dir))
    }

  /** Driver-memoized panel for fused requests: the servable queries
    * (scaled vector and exact squared norm), each query's 3
    * globally-rarest terms as `(q_id, w)`, and the two corpus constants
    * (N, Σdl) the postings are scored with. Collected ONCE per
    * (session, dir) — the [[ivfQueryPanel]] posture for the hybrid
    * retriever. */
  private[graft] final case class FusedPanel(
      queries: Seq[ServeShards.Query],
      terms: Seq[(Long, String)],
      nDocs: Long, sumDl: Long)

  private[graft] def fusedServePanel(spark: SparkSession, dir: String): FusedPanel =
    Features.cachedValue(spark, Some(dir), "fusedServePanel") {
      val docs = Tables.documents(spark, dir)
      val qs = scaledEmb(spark, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id"), col("sv"), col("n2"))
      val tf = Features.docTokenCounts(spark, dir)
      val dfAll = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val wQ = Window.partitionBy(col("q_id")).orderBy(col("df"), col("w"))
      val qt = tf.filter(col("doc_id") < NQueries)
        .join(dfAll, "w")
        .select(col("doc_id").as("q_id"), col("w"), col("df"))
        .withColumn("tr", row_number().over(wQ))
        .filter(col("tr") <= 3)
        .select(col("q_id"), col("w"))
      val st = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_dl"))
        .collect().head
      FusedPanel(
        qs.collect().toSeq.map(r => ServeShards.Query(r.getLong(0),
          r.getSeq[Long](1).toArray, r.getLong(2), cell = -1)),
        qt.collect().toSeq.map(r => (r.getLong(0), r.getString(1))),
        st.getLong(0), st.getLong(1))
    }

  /** The lexical leg's input: each panel term of the requested queries
    * mapped to the query ids that carry it. */
  private def requestTerms(spark: SparkSession, dir: String,
      ids: Seq[Long]): Map[String, Array[Long]] =
    fusedServePanel(spark, dir).terms.filter(t => ids.contains(t._1))
      .groupBy(_._2).map { case (w, qs) => w -> qs.map(_._1).toArray }

  /** PER-REQUEST fused (RRF) retrieval — row-identical to q144
    * filtered to `ids` (`ServeSpec` pins it), shaped like a SERVE call:
    *
    *  - query vectors, query terms and corpus stats come off the
    *    driver-memoized [[fusedServePanel]] — no job, no df rebuild;
    *  - ONE Spark job runs over every [[fusedShards]] shard: each task
    *    scores its corpus vectors against the requested queries (the
    *    semantic leg) and sums q86's exact micro-unit BM25 per (q_id,
    *    doc_id) over the postings of the requested terms (the lexical
    *    leg), and returns its top 10 per (leg, q_id); the driver merges
    *    them ([[ServeShards.gather]]). No DataFrame plan, no shuffle, no
    *    broadcast, no codegen per request;
    *  - fusion is q144's exact integer RRF over ≤20 candidates/query
    *    ([[fuseDriverSide]]).
    *
    * Identity argument: both legs compute the IDENTICAL scores (same
    * doubles, same floors, same long sums) over the same inputs, and the
    * heap's `struct(score, -id)` ordering is exactly the window's
    * `(score DESC, id ASC)`; ranks therefore agree rank-for-rank, and
    * the fusion tail is q144's own code. The lex score rides as a double
    * for the shared heap, which is exact: BM25 micro-unit sums are
    * ≤ ~10⁸ ≪ 2⁵³, so the double compares identically to the int64. */
  def serveFusedRequest(spark: SparkSession, dir: String, ids: Seq[Long],
      k: Int = 5): DataFrame = {
    val hit = fusedServePanel(spark, dir).queries.filter(q => ids.contains(q.qId))
    val shards = fusedShards(spark, dir)
    fuseDriverSide(spark, ServeShards.gather(spark, Seq(shards -> shards.all),
      hit, requestTerms(spark, dir, ids), semOnIvf = false, 10), k)
  }

  /** Fusion runs DRIVER-SIDE (shared by the exact and ANN fused
    * requests): each leg has already heap-collapsed to ≤10 ids per
    * requested query (best first — rank = position + 1), so the
    * batch plan's full_outer join + rank window would spend two more
    * exchange barriers fusing ≤20 integers. The exact integer RRF
    * ⌊10⁶/(K+rank)⌋, the (rrf_u DESC, id ASC) top-k cut, and the
    * output order replicate q144's expressions verbatim on longs — no
    * float enters, so driver and executor arithmetic cannot differ. */
  private def fuseDriverSide(spark: SparkSession,
      legTops: Map[(Long, Long), Seq[(Long, java.lang.Double)]], k: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    def ranksOf(leg: Long): Map[(Long, Long), Long] =
      legTops.toSeq.filter(_._1._1 == leg).flatMap { case ((_, qId), best) =>
        best.zipWithIndex.map { case ((id, _), pos) => (qId, id) -> (pos + 1L) }
      }.toMap
    val semRows = ranksOf(0L)
    val lexRows = ranksOf(1L)
    def contrib(rank: Long): Long =
      if (rank == 0L) 0L else (1000000L - 1000000L % (RrfK + rank)) / (RrfK + rank)
    val fused = (semRows.keySet ++ lexRows.keySet).toSeq
      .map { case key @ (qId, id) =>
        val rs = semRows.getOrElse(key, 0L)
        val rl = lexRows.getOrElse(key, 0L)
        (qId, id, rs, rl, contrib(rs) + contrib(rl))
      }
      .groupBy(_._1).toSeq
      .flatMap { case (_, rows) =>
        rows.sortBy { case (_, id, _, _, rrf) => (-rrf, id) }.take(k)
      }
      .sortBy { case (qId, id, _, _, rrf) => (qId, -rrf, id) }
      .map { case (qId, id, rs, rl, rrf) =>
        org.apache.spark.sql.Row(qId, id, rs, rl, rrf)
      }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("r_sem",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("r_lex",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rrf_u",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(fused.asJava, outSchema)
  }

  /** PER-REQUEST fused retrieval with the INDEXED semantic leg — the
    * corpus-scale fused serve (the exact fused request's semantic leg
    * is per-request corpus-LINEAR by q144-row-identity construction, so
    * its p50 grows with the corpus decade; this variant swaps that one
    * leg onto the q44 IVF index and keeps everything else identical):
    *
    *  - the ONE job runs on the [[ivfShards]] holding the requested
    *    queries' cells (the [[serveIvfRequest]] probe, ~1/K of the
    *    corpus per request), scored with the SAME exact cosine, and on
    *    every [[fusedShards]] shard for the lexical leg only (their
    *    corpus vectors are not read);
    *  - the top-10 gather and the driver-side integer RRF are the exact
    *    variant's own code ([[ServeShards.gather]], [[fuseDriverSide]]);
    *  - recall vs the exact fused top-k is AUDITED, not assumed: the
    *    ScaleBench `serve` phase reports `fused_ann_recall` at each
    *    corpus size, and `FusedAnnSpec` pins the one-cell identity case
    *    (when the index has a single cell the ANN leg IS the exact
    *    scan, so the two variants must agree row-for-row).
    *
    * The exact `fused` retriever stays the CLI default and the
    * reference ranking; `--retriever fused-ann` is the documented
    * corpus-decade escape, recall-audited like every index swap in
    * this engine (q113/q136/q166). */
  def serveFusedAnnRequest(spark: SparkSession, dir: String, ids: Seq[Long],
      k: Int = 5): DataFrame = {
    val hit = ivfQueryPanel(spark, dir).filter(q => ids.contains(q.qId))
    val terms = requestTerms(spark, dir, ids)
    val ivf = ivfShards(spark, dir)
    val corpus = fusedShards(spark, dir)
    fuseDriverSide(spark, ServeShards.gather(spark,
      Seq(ivf -> ivf.holding(hit), corpus -> (if (terms.isEmpty) Nil else corpus.all)),
      hit, terms, semOnIvf = true, 10), k)
  }

  /** The `assigned` index-build CTE chain shared by q44 and q130 —
    * the SQL twin of [[ivfAssigned]]. */
  private val ivfAssignedSqlCtes =
    s"""emb AS ($scaledEmbSql),
       |pos AS (
       |  SELECT label, vec_id, sv, n2,
       |    unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM emb),
       |csum AS (
       |  SELECT label AS c_label, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |cent AS (
       |  SELECT c_label, list(s ORDER BY p0) AS cs FROM csum GROUP BY 1),
       |cent2 AS (
       |  SELECT c_label, cs, ${dotLSql("cs", "cs")} AS cn2 FROM cent),
       |assigned AS (
       |  SELECT vec_id, label, sv, n2, c_label AS cell FROM (
       |    SELECT e.vec_id, e.label, e.sv, e.n2, c.c_label,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")} DESC,
       |        c.c_label) AS crank
       |    FROM emb e CROSS JOIN cent2 c)
       |  WHERE crank = 1)""".stripMargin

  private val q44Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.cell,
       |    ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")} AS cos
       |  FROM assigned c JOIN assigned q ON c.cell = q.cell
       |  WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries)
       |SELECT q_id, vec_id, cell, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q135
  /** PRODUCT-QUANTIZATION CODES + RECONSTRUCTION AUDIT — the
    * memory-bound scale path one level beyond q58's scalar quantizer:
    * split the [[Dim]]-dim space into [[PqSubspaces]] contiguous
    * subspaces and encode each subvector as the index of its nearest
    * codebook entry ([[PqCodes]] per subspace), so a vector stores in
    * `S·log₂K` bits = 4 bytes here vs 256 for float32 — the
    * IVF-PQ layout (Jégou et al., TPAMI 2011) every billion-vector ANN
    * deployment ships. The report is the index-build health check:
    * per (subspace, code) the assigned population and the exact int64
    * reconstruction SSE — dead codes (missing cells) and fat/hot cells
    * mean a codebook that wastes its bit budget, rising SSE per cell
    * localizes which subspace's codebook has drifted from the corpus.
    *
    * Codebooks here are DETERMINISTIC SEEDS (the subvectors of the
    * [[PqCodes]] lowest vec_ids — q79's seeding recipe), which keeps
    * every distance exact int64 and the full encode DuckDB-replayable;
    * a production build swaps in per-subspace k-means codebooks via the
    * existing [[kmeansAuto]] loop (same argmin encode, trained
    * centroids) — the swap changes WHICH centroids, not the plan.
    *
    * Determinism: all arithmetic is exact — d² = |a|² + |b|² − 2a·b on
    * the fixed-point int64 vectors (the subtraction form DuckDB
    * computes directly matches bit-for-bit), argmin ties break on the
    * lowest code.
    *
    * Scale posture: the codebook (S·K subvectors) broadcasts; encode is
    * a stateless broadcast-join fan-out (K candidates per subvector)
    * collapsed by the hash-aggregable [[graft.functions.ArgMax]] argmin
    * (ObjectHashAggregate, map-side combine — q44's assignment shape,
    * never a window sort); the report groupBy is ≤ S·K cells,
    * partial-aggregable. No corpus self-join anywhere. */
  val PqSubspaces = 4
  val PqCodes = 16
  private def PqSubDim = Dim / PqSubspaces

  /** Per-(vector, subspace) fixed-point subvectors with exact squared
    * norm — the common projection under both the PQ encode and the ADC
    * query side. */
  private[graft] def pqSubvectors(emb: DataFrame): DataFrame =
    pqSubvectorsM(emb, PqSubspaces)

  /** [[pqSubvectors]] at an arbitrary subspace count — the q158 budget
    * sweep re-encodes the corpus at several M; the production index
    * (q135–q137) stays pinned at [[PqSubspaces]]. */
  private[graft] def pqSubvectorsM(emb: DataFrame, m: Int): DataFrame = {
    val subDim = Dim / m
    emb.select(col("vec_id"), col("sv"),
        explode(array((0 until m).map(lit): _*)).as("s"))
      .select(col("vec_id"), col("s"),
        slice(col("sv"), col("s") * subDim + 1, lit(subDim)).as("sub"))
      .withColumn("sn2", dotL(col("sub"), col("sub")))
  }

  /** The deterministic seed codebook: (cs, code, csub, cn2) — S·K
    * subvectors, broadcast-sized at any corpus scale. */
  private[graft] def pqCodebook(emb: DataFrame): DataFrame =
    pqSubvectors(emb.filter(col("vec_id") < PqCodes))
      .select(col("s").as("cs"), col("vec_id").as("code"),
        col("sub").as("csub"), col("sn2").as("cn2"))

  /** The PQ encode applied to an ARBITRARY scaled frame against an
    * explicit codebook — the streaming ingest path encodes each
    * micro-batch against a FROZEN codebook through exactly this code,
    * so index-build and stream-ingest code words cannot diverge (the
    * [[ivfAssignOver]] posture, one quantizer down). */
  private[graft] def pqEncodeOver(emb: DataFrame, codebook: DataFrame): DataFrame =
    pqSubvectors(emb).join(broadcast(codebook), col("s") === col("cs"))
      .withColumn("d2",
        col("sn2") + col("cn2") - lit(2L) * dotL(col("sub"), col("csub")))
      .groupBy(col("vec_id"), col("s"))
      .agg(graft.functions.ArgMaxAgg.argMin(
        struct(col("d2"), col("code")),
        struct(col("code"), col("d2"))).as("b"))
      .select(col("vec_id"), col("s"),
        col("b.code").as("code"), col("b.d2").as("d2"))

  /** The corpus PQ encode: every vector's nearest code per subspace,
    * with its exact int64 reconstruction d². Memoized — q135's audit
    * and q136's ADC serving path read the SAME assignment, so the
    * audited index and the queried index cannot diverge. */
  private[graft] def pqCodesAssigned(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "pqCodes") {
      val emb = scaledEmb(spark, dir)
      pqEncodeOver(emb, pqCodebook(emb))
    }

  private def q135(spark: SparkSession, dir: String): DataFrame =
    pqCodesAssigned(spark, dir)
      .select(col("s").cast("long").as("subspace"), col("code"), col("d2"))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sse"))
      .orderBy(col("subspace"), col("code"))

  /** SQL twin of [[pqCodesAssigned]] (ends at `best`; `codes` filters
    * to the winners) — shared by q135 and q136. */
  private val pqCodesSqlCtes = {
    val subDim = Dim / PqSubspaces
    s"""emb0 AS (
       |  SELECT vec_id, ${scaledVecSql("embedding")} AS sv FROM embeddings),
       |ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s),
       |vsub AS (
       |  SELECT vec_id, s,
       |    list_slice(sv, s * $subDim + 1, s * $subDim + $subDim) AS sub
       |  FROM emb0 CROSS JOIN ss),
       |cb AS (
       |  SELECT s, vec_id AS code,
       |    list_slice(sv, s * $subDim + 1, s * $subDim + $subDim) AS csub
       |  FROM emb0 CROSS JOIN ss WHERE vec_id < $PqCodes),
       |d AS (
       |  SELECT v.vec_id, v.s, c.code,
       |    CAST(list_sum(list_transform(range(1, ${subDim + 1}), i ->
       |      (v.sub[i] - c.csub[i]) * (v.sub[i] - c.csub[i]))) AS BIGINT) AS d2
       |  FROM vsub v JOIN cb c ON v.s = c.s),
       |best AS (
       |  SELECT vec_id, s, code, d2,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |  FROM d),
       |codes AS (SELECT vec_id, s, code, d2 FROM best WHERE rn = 1)""".stripMargin
  }

  private val q135Sql =
    s"""WITH $pqCodesSqlCtes
       |SELECT CAST(s AS BIGINT) AS subspace, code, count(*) AS n_vecs,
       |  CAST(sum(d2) AS BIGINT) AS sse
       |FROM codes
       |GROUP BY 1, 2
       |ORDER BY subspace, code""".stripMargin

  // ---------------------------------------------------------------- q136
  /** PQ ADC SERVING PATH + RECALL AUDIT — the query half of q135's
    * index, with its production fidelity monitor (q113's role, for the
    * PQ index): score every query against the COMPRESSED corpus via
    * asymmetric distance computation — the query stays full-precision,
    * each database vector is its S codes, and d²(q, v) ≈ Σ_s
    * lut[q, s, code_v[s]] where the lookup table holds the exact d²
    * from each query subvector to each codebook entry. This is the
    * IVF-PQ inner loop: at serving time the corpus scan reads 4-byte
    * codes (not 256-byte vectors) and each distance is S table adds —
    * the audit reports, per query, how much of the EXACT L2 top-5 the
    * ADC top-5 recovers, plus both sides' exact distance masses (the
    * compression-distortion diagnostic: recall can survive while
    * distances inflate — both numbers matter before shipping a
    * codebook).
    *
    * Determinism: every quantity is exact int64 (subvector d² sums);
    * ties break on vec_id everywhere.
    *
    * Scale posture: the LUT is queries × S·K rows — broadcast by
    * construction (the whole point of ADC: per-query work against the
    * codebook happens ONCE, then the corpus scan is adds); the corpus
    * side streams its code rows through one broadcast join into a
    * per-(query, vector) partial-aggregable sum; top-k is a bounded
    * window per query; the exact leg is the q38-shaped broadcast
    * cross join, which at 100 TB runs on a query SAMPLE exactly like
    * q113's exact leg. */
  private def q136(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val k = 5
    // LUT: per (q_id, s, code) the exact partial d² — queries × S·K.
    val lut = pqSubvectors(emb.filter(col("vec_id") < NQueries))
      .select(col("vec_id").as("q_id"), col("s").as("qs"),
        col("sub").as("qsub"), col("sn2").as("qsn2"))
      .join(pqCodebook(emb), col("qs") === col("cs"))
      .select(col("q_id"), col("qs"), col("code").as("lcode"),
        (col("qsn2") + col("cn2") - lit(2L) * dotL(col("qsub"), col("csub")))
          .as("pd2"))
    // ADC: corpus code rows × broadcast LUT, summed per (query, vector).
    val adc = pqCodesAssigned(spark, dir).filter(col("vec_id") >= NQueries)
      .join(broadcast(lut),
        col("s") === col("qs") && col("code") === col("lcode"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adc_d2"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    val adcTop = adc.withColumn("rank", row_number().over(wAdc))
      .filter(col("rank") <= k)
    // Exact L2 leg (q38's broadcast shape, L2 metric).
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"), col("n2").as("qn2"))
    val wEx = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val exactTop = emb.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(qs))
      .withColumn("d2", col("n2") + col("qn2") - lit(2L) * dotL(col("sv"), col("qv")))
      .select(col("q_id"), col("vec_id"), col("d2"))
      .withColumn("rank", row_number().over(wEx))
      .filter(col("rank") <= k)
    // ONE consumption of adcTop (r17, same fold as q137): full outer
    // join on (q_id, vec_id), one aggregate for recall + both distance
    // masses. The old inner join on adcAgg required every q_id to have
    // ADC rows; the corpus guarantees both legs k rows per query, so
    // the q_id set is unchanged.
    exactTop.select(col("q_id"), col("vec_id"), col("d2"))
      .join(adcTop.select(col("q_id"), col("vec_id"), col("adc_d2")),
        Seq("q_id", "vec_id"), "full_outer")
      .groupBy(col("q_id"))
      .agg(sum(when(col("d2").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("d2").isNotNull && col("adc_d2").isNotNull, 1L)
          .otherwise(0L)).as("n_hits"),
        sum(col("d2")).as("exact_d2_sum"),
        sum(col("adc_d2")).as("adc_d2_sum"))
      .select(col("q_id"), col("n_exact"), col("n_hits"),
        col("exact_d2_sum"),
        // r17 ADVICE: coalesce like q137 so a q_id whose ADC leg ever
        // came up empty reports 0 rather than NULL (unreachable under
        // the both-legs-k-rows corpus invariant — value-identical today)
        coalesce(col("adc_d2_sum"), lit(0L)).as("adc_d2_sum"))
      .orderBy(col("q_id"))
  }

  private val q136Sql =
    s"""WITH $pqCodesSqlCtes,
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.s, c.code,
       |    CAST(list_sum(list_transform(range(1, ${Dim / PqSubspaces + 1}), i ->
       |      (q.sub[i] - c.csub[i]) * (q.sub[i] - c.csub[i]))) AS BIGINT) AS pd2
       |  FROM vsub q JOIN cb c ON q.s = c.s
       |  WHERE q.vec_id < $NQueries),
       |adc AS (
       |  SELECT l.q_id, co.vec_id, CAST(sum(l.pd2) AS BIGINT) AS adc_d2
       |  FROM codes co JOIN lut l ON co.s = l.s AND co.code = l.code
       |  WHERE co.vec_id >= $NQueries
       |  GROUP BY 1, 2),
       |adctop AS (
       |  SELECT q_id, vec_id, adc_d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rn
       |  FROM adc),
       |exact AS (
       |  SELECT q.vec_id AS q_id, v.vec_id,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      (q.sv[i] - v.sv[i]) * (q.sv[i] - v.sv[i]))) AS BIGINT) AS d2
       |  FROM emb0 q JOIN emb0 v
       |    ON q.vec_id < $NQueries AND v.vec_id >= $NQueries),
       |extop AS (
       |  SELECT q_id, vec_id, d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
       |  FROM exact),
       |ae AS (
       |  SELECT q_id, CAST(sum(adc_d2) AS BIGINT) AS adc_d2_sum
       |  FROM adctop WHERE rn <= 5 GROUP BY 1)
       |SELECT x.q_id, x.n_exact, x.n_hits, x.exact_d2_sum, ae.adc_d2_sum
       |FROM (
       |  SELECT e.q_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |    CAST(sum(e.d2) AS BIGINT) AS exact_d2_sum
       |  FROM extop e
       |  LEFT JOIN (SELECT q_id, vec_id FROM adctop WHERE rn <= 5) a
       |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  WHERE e.rn <= 5 GROUP BY 1) x
       |JOIN ae ON x.q_id = ae.q_id
       |ORDER BY x.q_id""".stripMargin

  // ---------------------------------------------------------------- q137
  /** IVF-PQ RESIDUAL INDEX + ADC SERVING — the full composition every
    * billion-vector deployment actually ships (FAISS `IVFPQ`; Jégou et
    * al., TPAMI 2011 §III): q44's coarse quantizer partitions the
    * corpus into cells, and q135's product quantizer encodes each
    * vector's RESIDUAL against its cell's centroid rather than the raw
    * vector. Residuals are what make PQ bits go far: vectors in a cell
    * share the centroid's mass, so the residual distribution is
    * tighter than the raw one and the same S·log₂K bits buy less
    * reconstruction error. Serving is q136's ADC run per probed cell:
    * the query's residual (w.r.t. the probed cell's centroid) builds
    * the S×K lookup table, the cell's members are scored purely from
    * their 4-byte codes, and — because both sides subtract the SAME
    * centroid — within-cell ADC approximates the TRUE |q − v|²
    * directly, with no cross-cell bias term.
    *
    * The report is the composed system's health check: per query its
    * probed cell, candidate count, ADC top-[[AdcTopK]] recall against
    * the FULL-corpus exact L2 top-k (so a miss is attributable: cell
    * miss = IVF, in-cell miss = PQ distortion — q130 and q135 localize
    * which), and both distance masses.
    *
    * Centroid = per-label exact int64 floor-mean (q100's
    * ((s − pmod(s, n))/n recipe — DuckDB `//`-truncation-proof), so
    * residuals, codebooks, encodes and LUTs are all exact int64 and
    * the whole index is DuckDB-replayable. Residual codebook seeds are
    * the residual subvectors of the [[PqCodes]] lowest vec_ids (q135's
    * seeding recipe, one level down); production swaps in k-means
    * codebooks via [[kmeansAuto]] without changing the plan.
    *
    * Scale posture: centroid means are a 10-row broadcast; the
    * residual pass is one stateless broadcast join over the corpus
    * (vectors never shuffle); the encode is q135's broadcast-join →
    * hash-aggregable argmin; the LUT is queries × S·K rows JOINED WITH
    * the probe cell — broadcast by construction; the serving scan
    * reads code rows only. The exact leg is q38's broadcast shape and
    * at 100 TB runs on a query sample, exactly like q113/q136. */
  /** The codebook mode in effect. */
  private def ivfCodebookMode(spark: SparkSession): String =
    spark.conf.getOption(IvfCodebookConf).map(_.trim).getOrElse("label")

  /** Per-cell centroid MEANS in the vectors' own fixed-point scale —
    * the subtraction operand of the residual index, derived from the
    * SAME codebook that assigned the cells ([[ivfCodebook]]), so the
    * `trained` conf reaches the full IVF-PQ composition:
    *  - `label`: the per-label exact int64 floor-mean (q100's
    *    ((s − pmod(s, n))/n recipe) of the sum-vector codebook — the
    *    oracle-pinned default, plan unchanged;
    *  - `trained`: [[kmeansAuto]]'s converged centroids ARE already
    *    floor-means in sv scale ([[ivfCodebook]] aliases `cv` → `cs`),
    *    so they pass through directly — same rows that assigned the
    *    cells, no second derivation that could drift. */
  private[graft] def ivfCellMeans(spark: SparkSession, dir: String): DataFrame =
    ivfCodebookMode(spark) match {
      case "trained" =>
        ivfCodebook(spark, dir)
          .select(col("c_label").as("cell"), col("cs").as("cm"))
      case _ =>
        val emb = scaledEmb(spark, dir)
        def floorDiv(s: Column, n: Column): Column =
          ((s - pmod(s, n)) / n).cast(LongType)
        val cnts = emb.groupBy(col("label").as("cnt_label"))
          .agg(count(lit(1)).as("cn"))
        labelCentroids(spark, dir)
          .join(cnts, col("c_label") === col("cnt_label"))
          .select(col("c_label").as("cell"),
            transform(col("cs"), x => floorDiv(x, col("cn"))).as("cm"))
    }

  private[graft] def ivfPqResiduals(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "ivfPqResid") {
      ivfAssigned(spark, dir)
        .join(broadcast(ivfCellMeans(spark, dir)), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("sv"), col("cm"), (x, y) => x - y).as("sv"))
    }

  /** The residual-PQ encode: every vector's per-subspace nearest
    * residual code, carrying its cell — memoized so the audit rows and
    * the ADC serving path read one assignment. */
  private[graft] def ivfPqCodes(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "ivfPqCodes") {
      val resid = ivfPqResiduals(spark, dir)
      pqEncodeOver(resid, pqCodebook(resid))
        .join(resid.select(col("vec_id"), col("cell")), "vec_id")
    }

  private def q137(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val emb = scaledEmb(spark, dir)
    val resid = ivfPqResiduals(spark, dir)
    val qcells = resid.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("cell").as("qcell"))
    // Per-query LUT over RESIDUAL subvectors, tagged with the probe cell.
    val lut = pqSubvectors(resid.filter(col("vec_id") < NQueries))
      .select(col("vec_id").as("q_id"), col("s").as("qs"),
        col("sub").as("qsub"), col("sn2").as("qsn2"))
      .join(pqCodebook(resid), col("qs") === col("cs"))
      .select(col("q_id"), col("qs"), col("code").as("lcode"),
        (col("qsn2") + col("cn2") - lit(2L) * dotL(col("qsub"), col("csub")))
          .as("pd2"))
      .join(qcells, "q_id")
    val adc = ivfPqCodes(spark, dir).filter(col("vec_id") >= NQueries)
      .join(broadcast(lut),
        col("s") === col("qs") && col("code") === col("lcode") &&
          col("cell") === col("qcell"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adc_d2"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    // n_cand rides the SAME q_id window pass as the rank: `adc` has
    // exactly one row per (query, cell-candidate) — each candidate's S
    // code rows all matched the LUT (every (s, code) has an entry, cell
    // equality included), so count-over-partition IS the probed cell's
    // candidate count. This replaces r17's separate resid corpus pass +
    // qcells broadcast join + its aggregate and the final left join
    // (r18 fold; same exchange, second window function only).
    val adcTop = adc
      .withColumn("rank", row_number().over(wAdc))
      .withColumn("n_cand",
        count(lit(1)).over(Window.partitionBy(col("q_id"))))
      .filter(col("rank") <= k)
    // Exact leg: full-corpus L2 top-k (q136's shape) — composed recall.
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"), col("n2").as("qn2"))
    val wEx = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val exactTop = emb.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(qs))
      .withColumn("d2", col("n2") + col("qn2") - lit(2L) * dotL(col("sv"), col("qv")))
      .select(col("q_id"), col("vec_id"), col("d2"))
      .withColumn("rank", row_number().over(wEx))
      .filter(col("rank") <= k)
    // ONE consumption of adcTop (r17; the hit join + the separate
    // adcAgg re-ran the broadcast-LUT ADC join and its top-k window
    // twice): a FULL OUTER join on (q_id, vec_id) carries both legs,
    // and one aggregate derives recall AND both distance sums —
    // n_exact counts exact-leg rows (d2 never null there), n_hits the
    // rows present in both, sum skips the other leg's nulls. Every
    // q_id has k exact rows (|corpus| ≥ k at every SF), so the output
    // q_id set is unchanged.
    exactTop.select(col("q_id"), col("vec_id"), col("d2"))
      .join(adcTop.select(col("q_id"), col("vec_id"), col("adc_d2"),
          col("n_cand")),
        Seq("q_id", "vec_id"), "full_outer")
      .groupBy(col("q_id"))
      .agg(sum(when(col("d2").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("d2").isNotNull && col("adc_d2").isNotNull, 1L)
          .otherwise(0L)).as("n_hits"),
        sum(col("d2")).as("exact_d2_sum"),
        sum(col("adc_d2")).as("adc_d2_sum0"),
        max(col("n_cand")).as("n_cand0"))
      .join(qcells.select(col("q_id"), col("qcell").as("cell")), "q_id")
      .select(col("q_id"), col("cell"),
        coalesce(col("n_cand0"), lit(0L)).as("n_cand"),
        col("n_exact"), col("n_hits"), col("exact_d2_sum"),
        coalesce(col("adc_d2_sum0"), lit(0L)).as("adc_d2_sum"))
      .orderBy(col("q_id"))
  }

  private lazy val q137Sql = {
    val subDim = Dim / PqSubspaces
    def fd(s: String, n: String): String =
      s"CAST(($s - ((($s) % ($n)) + ($n)) % ($n)) / ($n) AS BIGINT)"
    s"""WITH $ivfAssignedSqlCtes,
       |ccnt AS (SELECT label AS cnt_label, count(*) AS cn
       |         FROM emb GROUP BY 1),
       |cmean AS (
       |  SELECT c_label AS cell,
       |    list_transform(cs, x -> ${fd("x", "cn")}) AS cm
       |  FROM cent2 JOIN ccnt ON c_label = cnt_label),
       |resid AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(1, $Dim + 1), i -> a.sv[i] - m.cm[i]) AS rv
       |  FROM assigned a JOIN cmean m USING (cell)),
       |rss AS (SELECT unnest(range(0, $PqSubspaces)) AS s),
       |rsub AS (
       |  SELECT vec_id, cell, s,
       |    list_slice(rv, s * $subDim + 1, s * $subDim + $subDim) AS sub
       |  FROM resid CROSS JOIN rss),
       |rcb AS (
       |  SELECT s, vec_id AS code, sub AS csub
       |  FROM rsub WHERE vec_id < $PqCodes),
       |rd AS (
       |  SELECT v.vec_id, v.cell, v.s, c.code,
       |    CAST(list_sum(list_transform(range(1, ${subDim + 1}), i ->
       |      (v.sub[i] - c.csub[i]) * (v.sub[i] - c.csub[i]))) AS BIGINT) AS d2
       |  FROM rsub v JOIN rcb c ON v.s = c.s),
       |rcodes AS (
       |  SELECT vec_id, cell, s, code FROM (
       |    SELECT vec_id, cell, s, code,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM rd)
       |  WHERE rn = 1),
       |qcell AS (SELECT vec_id AS q_id, cell AS qc FROM assigned
       |          WHERE vec_id < $NQueries),
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.s, c.code,
       |    CAST(list_sum(list_transform(range(1, ${subDim + 1}), i ->
       |      (q.sub[i] - c.csub[i]) * (q.sub[i] - c.csub[i]))) AS BIGINT) AS pd2
       |  FROM rsub q JOIN rcb c ON q.s = c.s
       |  WHERE q.vec_id < $NQueries),
       |adc AS (
       |  SELECT l.q_id, co.vec_id, CAST(sum(l.pd2) AS BIGINT) AS adc_d2
       |  FROM rcodes co
       |  JOIN lut l ON co.s = l.s AND co.code = l.code
       |  JOIN qcell ON l.q_id = qcell.q_id AND co.cell = qcell.qc
       |  WHERE co.vec_id >= $NQueries
       |  GROUP BY 1, 2),
       |adctop AS (
       |  SELECT q_id, vec_id, adc_d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rn
       |  FROM adc),
       |adcsum AS (
       |  SELECT q_id, CAST(sum(adc_d2) AS BIGINT) AS adc_d2_sum
       |  FROM adctop WHERE rn <= 5 GROUP BY 1),
       |ncand AS (
       |  SELECT q.q_id, count(*) AS n_cand
       |  FROM qcell q JOIN assigned c ON c.cell = q.qc
       |  WHERE c.vec_id >= $NQueries GROUP BY 1),
       |exact AS (
       |  SELECT q.vec_id AS q_id, v.vec_id,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      (q.sv[i] - v.sv[i]) * (q.sv[i] - v.sv[i]))) AS BIGINT) AS d2
       |  FROM emb q JOIN emb v
       |    ON q.vec_id < $NQueries AND v.vec_id >= $NQueries),
       |extop AS (
       |  SELECT q_id, vec_id, d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
       |  FROM exact),
       |hx AS (
       |  SELECT e.q_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits,
       |    CAST(sum(e.d2) AS BIGINT) AS exact_d2_sum
       |  FROM extop e
       |  LEFT JOIN (SELECT q_id, vec_id FROM adctop WHERE rn <= 5) a
       |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  WHERE e.rn <= 5 GROUP BY 1)
       |SELECT hx.q_id, qcell.qc AS cell,
       |  COALESCE(ncand.n_cand, 0) AS n_cand,
       |  hx.n_exact, hx.n_hits, hx.exact_d2_sum,
       |  COALESCE(adcsum.adc_d2_sum, 0) AS adc_d2_sum
       |FROM hx
       |JOIN qcell ON hx.q_id = qcell.q_id
       |LEFT JOIN ncand ON hx.q_id = ncand.q_id
       |LEFT JOIN adcsum ON hx.q_id = adcsum.q_id
       |ORDER BY hx.q_id""".stripMargin
  }

  // ---------------------------------------------------------------- q144
  /** HYBRID RETRIEVAL FUSION (RRF) — the standard way production search
    * combines a lexical and a semantic ranking without score
    * calibration: Reciprocal Rank Fusion (Cormack et al., SIGIR 2009),
    * RRF(d) = Σ_legs 1/(K + rank_leg(d)) with K = [[RrfK]]. Ranks, not
    * scores, fuse — BM25 logits and cosines live on incomparable
    * scales, and RRF is provably robust to that. Per query document
    * (the [[NQueries]] lowest ids, the suite's standing query set):
    * the SEMANTIC leg is q38's exact cosine top-10; the LEXICAL leg is
    * query-by-example BM25 — the query doc's 3 globally-rarest
    * distinct terms (max-IDF proxy, deterministic df-then-term order)
    * scored with q86's exact micro-unit BM25 recipe (same k1/b
    * constants) over the corpus, top-10. Fusion is exact integer
    * arithmetic: each leg contributes ⌊10⁶/(K + rank)⌋ — integer
    * division, no float summation-order hazard — and the top-5 fused
    * per query carry both leg ranks (0 = not retrieved by that leg),
    * so a reader sees WHICH leg found each hit.
    *
    * Scale posture: the semantic leg is the audited q38 broadcast
    * shape (query-sample-able at 100 TB, q113's posture); the lexical
    * leg joins the per-(doc, term) tf aggregate against a ≤ 3·queries
    * broadcast term list — corpus-sized work is one uniform-key join +
    * one partial-aggregable per-(query, doc) sum; both top-10s and the
    * fused top-5 are bounded windows over per-query candidate sets
    * (≤ corpus matched rows for ≤ 24 terms), and the fusion join is
    * candidates-sized, not corpus-sized. */
  val RrfK = 60L

  /** One leg's exact integer RRF contribution ⌊10⁶/(K + rank)⌋ —
    * integer division via the pmod subtraction (no float summation
    * hazard). Shared by q144 and [[serveFusedRequest]]. */
  private def rrfContrib(r: Column): Column = {
    val d = lit(RrfK) + r
    ((lit(1000000L) - pmod(lit(1000000L), d)) / d).cast(LongType)
  }

  private def q144(spark: SparkSession, dir: String): DataFrame = {
    val k1 = TextAnalysis.Bm25K1; val b = TextAnalysis.Bm25B
    val docs = Tables.documents(spark, dir)
    val emb = scaledEmb(spark, dir)
    // Semantic leg: exact cosine top-10 per query (q38's shape).
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"), col("n2").as("qn2"))
    val wS = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("id"))
    val sem = emb.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(qs))
      .withColumn("cos", cosine(dotL(col("sv"), col("qv")), col("n2"), col("qn2")))
      .select(col("q_id"), col("vec_id").as("id"), col("cos"))
      .withColumn("r_sem", row_number().over(wS).cast("long"))
      .filter(col("r_sem") <= 10)
      .select(col("q_id"), col("id"), col("r_sem"))
    // Lexical leg: query-by-example BM25 on the 3 rarest query terms.
    // NOT the shared docTokenCounts frame (r17, measured): the qterms
    // and lex legs filter on doc_id, and Catalyst pushes those filters
    // BELOW the inline aggregate (two small pruned aggregations); a
    // cache read would materialize full postings three times instead
    // (q144 0.95 -> 1.16 s). Only dfAll truly needs the full table.
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfAll = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("df"), col("w"))
    val qterms = tf.filter(col("doc_id") < NQueries)
      .join(dfAll, "w")
      .select(col("doc_id").as("q_id"), col("w"), col("df"))
      .withColumn("tr", row_number().over(wQ))
      .filter(col("tr") <= 3)
      .select(col("q_id"), col("w"), col("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("sum_dl"))
    val dls = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    val wL = Window.partitionBy(col("q_id"))
      .orderBy(col("score_u").desc, col("id"))
    val lex = tf.filter(col("doc_id") >= NQueries)
      .join(broadcast(qterms), "w")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast(DoubleType) - col("df").cast(DoubleType)
          + 0.5) / (col("df").cast(DoubleType) + 0.5) + 1.0))
      .withColumn("avgdl",
        col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("c_u",
        floor(lit(1000000.0) * col("idf") *
          (col("tf").cast(DoubleType) * lit(k1 + 1.0)) /
          (col("tf").cast(DoubleType) + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast(DoubleType) / col("avgdl"))))
          .cast("long"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c_u")).as("score_u"))
      .select(col("q_id"), col("doc_id").as("id"), col("score_u"))
      .withColumn("r_lex", row_number().over(wL).cast("long"))
      .filter(col("r_lex") <= 10)
      .select(col("q_id"), col("id"), col("r_lex"))
    // Fusion: exact integer RRF contributions, top-5 per query.
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_u").desc, col("id"))
    sem.join(lex, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf_u",
        coalesce(rrfContrib(col("r_sem")), lit(0L)) +
          coalesce(rrfContrib(col("r_lex")), lit(0L)))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("id").as("doc_id"),
        coalesce(col("r_sem"), lit(0L)).as("r_sem"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        col("rrf_u"))
      .orderBy(col("q_id"), col("rrf_u").desc, col("doc_id"))
  }

  private lazy val q144Sql = {
    val k1 = TextAnalysis.Bm25K1; val b = TextAnalysis.Bm25B
    def rrf(r: String): String =
      s"CAST((1000000 - 1000000 % ($RrfK + $r)) / ($RrfK + $r) AS BIGINT)"
    s"""WITH emb AS ($scaledEmbSql),
       |sem AS (
       |  SELECT q_id, id, r_sem FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")} DESC,
       |        c.vec_id) AS r_sem
       |    FROM emb c JOIN emb q
       |      ON q.vec_id < $NQueries AND c.vec_id >= $NQueries)
       |  WHERE r_sem <= 10),
       |tf AS (
       |  SELECT doc_id, w, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents)
       |  GROUP BY 1, 2),
       |dfall AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |qterms AS (
       |  SELECT q_id, w, df FROM (
       |    SELECT t.doc_id AS q_id, t.w, d.df,
       |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.w)
       |        AS tr
       |    FROM tf t JOIN dfall d USING (w)
       |    WHERE t.doc_id < $NQueries)
       |  WHERE tr <= 3),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |    sum(CAST(len(${tokensSql("text")}) AS BIGINT)) AS sum_dl
       |  FROM documents),
       |dls AS (SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS dl
       |        FROM documents),
       |lexs AS (
       |  SELECT t.doc_id AS id, qt.q_id,
       |    CAST(sum(CAST(floor(1000000.0 *
       |      ln((CAST(n_docs AS DOUBLE) - CAST(qt.df AS DOUBLE) + 0.5) /
       |         (CAST(qt.df AS DOUBLE) + 0.5) + 1.0) *
       |      (CAST(t.tf AS DOUBLE) * ${k1 + 1.0}) /
       |      (CAST(t.tf AS DOUBLE) + $k1 * (${1.0 - b} +
       |        $b * CAST(dl AS DOUBLE) /
       |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |      AS BIGINT)) AS BIGINT) AS score_u
       |  FROM tf t
       |  JOIN qterms qt USING (w)
       |  JOIN dls ON dls.doc_id = t.doc_id
       |  CROSS JOIN stats
       |  WHERE t.doc_id >= $NQueries
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT q_id, id, r_lex FROM (
       |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_u DESC, id) AS r_lex
       |    FROM lexs)
       |  WHERE r_lex <= 10),
       |fused AS (
       |  SELECT COALESCE(s.q_id, l.q_id) AS q_id,
       |    COALESCE(s.id, l.id) AS id, s.r_sem, l.r_lex,
       |    COALESCE(${rrf("s.r_sem")}, 0) + COALESCE(${rrf("l.r_lex")}, 0)
       |      AS rrf_u
       |  FROM sem s FULL OUTER JOIN lex l
       |    ON s.q_id = l.q_id AND s.id = l.id)
       |SELECT q_id, id AS doc_id,
       |  COALESCE(r_sem, 0) AS r_sem, COALESCE(r_lex, 0) AS r_lex, rrf_u
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf_u DESC, id) AS rk FROM fused)
       |WHERE rk <= 5
       |ORDER BY q_id, rrf_u DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q58
  /** 8-bit scalar quantization of the embedding table + reconstruction-
    * error report per label — the memory-bound scale path for ANN (an
    * int8 codebook is 8× smaller than float32; IVF/LSH candidate scans
    * read the quantized form and only re-rank survivors at full
    * precision).
    *
    * Per-dimension affine quantization: `q = floor((x - min_d) * 255 /
    * range_d)`, reconstruction `x' = min_d + floor(q * range_d / 255)`.
    * Everything is exact int64 arithmetic on the fixed-point vectors —
    * quantized codes, reconstruction, and error are bit-identical in any
    * engine, so the whole report is oracle-checkable (no float tolerance
    * needed to test a lossy codec).
    *
    * Scale posture: one pass for the 64 min/max pairs (partial-
    * aggregable, one scalar row out), broadcast of the 2×64-long stats,
    * one map-shaped pass to quantize + score, one groupBy(label). */
  private def q58(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val statAggs = (0 until Dim).map(i => min(element_at(col("sv"), i + 1)).as(s"mn$i")) ++
      (0 until Dim).map(i => max(element_at(col("sv"), i + 1)).as(s"mx$i"))
    val stats = emb.agg(statAggs.head, statAggs.tail: _*)
    val lists = stats.select(
      array((0 until Dim).map(i => col(s"mn$i")): _*).as("mins"),
      array((0 until Dim).map(i => col(s"mx$i") - col(s"mn$i")): _*).as("rngs"))

    // Per-row total reconstruction error via the native codegen'd
    // [[graft.functions.QuantizeError]] — the HOF form
    // (`aggregate(transform(sequence(…)))`) materialized a 64-element
    // array per row and interpreted its lambdas; this fuses the
    // quantize→reconstruct→|err| loop into WholeStageCodegen.
    val scored = emb.crossJoin(broadcast(lists))
      .select(col("label"),
        graft.functions.VectorExprs.quantErr(col("sv"), col("mins"), col("rngs"))
          .as("err_u"))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_u")).as("sum_err_u"),
        max(col("err_u")).as("max_err_u"),
        (sum(col("err_u")).cast(DoubleType) /
          (count(lit(1)) * lit(Dim.toLong)).cast(DoubleType)).as("avg_err_u"))
      .orderBy(col("label"))
  }

  private val q58Sql = {
    val mns = (0 until Dim).map(i => s"min(sv[${i + 1}]) AS mn$i").mkString(", ")
    val mxs = (0 until Dim).map(i => s"max(sv[${i + 1}]) AS mx$i").mkString(", ")
    val minList = (0 until Dim).map(i => s"mn$i").mkString("[", ", ", "]")
    val rngList = (0 until Dim).map(i => s"mx$i - mn$i").mkString("[", ", ", "]")
    s"""WITH emb AS ($scaledEmbSql),
       |stats AS (SELECT $mns, $mxs FROM emb),
       |lists AS (SELECT $minList AS mins, $rngList AS rngs FROM stats),
       |err AS (
       |  SELECT label,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}), i ->
       |      CASE WHEN rngs[i] = 0 THEN 0 ELSE
       |        abs((sv[i] - mins[i]) -
       |            ((((sv[i] - mins[i]) * 255 // rngs[i]) * rngs[i]) // 255))
       |      END)) AS BIGINT) AS err_u
       |  FROM emb CROSS JOIN lists)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(err_u) AS BIGINT) AS sum_err_u,
       |  CAST(max(err_u) AS BIGINT) AS max_err_u,
       |  CAST(sum(err_u) AS DOUBLE) / CAST(count(*) * $Dim AS DOUBLE) AS avg_err_u
       |FROM err
       |GROUP BY label
       |ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------- q66
  /** Cross-modal retrieval: the sign-LSH ANN neighbors (q39) enriched
    * with each neighbor's DOCUMENT-side metadata (`vec_id` keys into
    * `documents.doc_id` — the embedding table is the vector column of
    * the corpus). The join the serving path of a retrieval pipeline
    * performs: ANN over the vector index, then fetch the text record.
    * Neighbor set is tiny (queries×k), so the document fetch is a
    * broadcast-able join against the corpus — at 100 TB this is a
    * point-lookup pattern (bucketed or key-partitioned doc store). */
  private def q66(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    q39(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val q66Sql =
    s"""WITH ann AS ($q39Sql)
       |SELECT q_id, rank, vec_id, cos, lang, source, n_chars
       |FROM ann JOIN documents ON vec_id = doc_id
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q77
  /** SEMANTIC deduplication decisions (the SemDeDup shape, Abbas et al.
    * 2023): embedding-cosine near-dup PAIRS (q40's bucketed generation,
    * fixture threshold) → duplicate CLUSTERS via connected components
    * (the shared auto-escalating [[Dedup.ccLabelsAuto]] fixpoint) → a
    * per-vector KEEP/CANONICAL table, exactly what q60 is to the text
    * near-dup stack. This is the operator that deduplicates *meaning*:
    * paraphrases and re-encodings that share no n-grams but collapse to
    * near-identical embeddings.
    *
    * Scale posture: pairs come from sign-LSH buckets (never all-pairs),
    * the CC fixpoint shuffles only (id, lbl) longs with driver-visible
    * counts, labels are memoized per (session, dir), and the final
    * decision join is corpus LEFT JOIN tiny-label-table. Oracle: the
    * recursive-CTE transitive closure over the same pair SQL. */
  /** PRE-FLIGHT pair budget for the semantic-dedup edge list (round-16
    * verdict task 2 — q77 at default knobs OOM'd at ×400 because the
    * edge localCheckpoint MATERIALIZES the full near-dup pair graph,
    * quadratic in cluster size at the fixture threshold). Before the
    * edge list is built, a one-aggregate costing pass (q251's
    * admission-volume idea, collapsed to the candidate upper bound:
    * Σ_bucket n·(n−1)/2 over the same sign-LSH buckets the pair join
    * uses) prices the materialization; if the bound exceeds this
    * budget, the existing per-a_id degree budget is applied
    * AUTOMATICALLY at k = budget / |vectors| (≥ 1) and the decision is
    * logged loudly. `off` disables the guard; an explicit
    * [[MaxPairsConf]] wins over it (the operator chose a cap — the
    * guard never second-guesses). Default 5·10⁷ pairs: the capped edge
    * list is ≤ 2·budget (src,dst) longs ≈ 1.6 GB checkpointed — the
    * ×400 corpus completes under 64 GB where the unguarded build died
    * (`semguard` ScaleBench phase measures it; `SemDedupGuardSpec`
    * pins both decisions).
    *
    * Why the candidate BOUND and not the admitted count: the bound is
    * one partial-aggregable groupBy over |vectors| rows (free at any
    * scale) and is a true upper bound on admitted pairs — a guard that
    * must prevent an OOM needs a cheap over-estimate, not an exact
    * count whose own enumeration is the cost being guarded. */
  val SemDedupBudgetConf = "spark.graft.neardup.autoBudgetPairs"
  private val DefaultSemDedupBudget = 50000000L

  private def semDedupBudget(spark: SparkSession): Option[Long] =
    spark.conf.getOption(SemDedupBudgetConf).map(_.trim) match {
      case None => Some(DefaultSemDedupBudget)
      case Some("off") => None
      case Some(raw) =>
        val b = raw.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"$SemDedupBudgetConf must be a positive integer or 'off', " +
              s"got '$raw'"))
        require(b >= 1,
          s"$SemDedupBudgetConf must be >= 1 or 'off', got $b")
        Some(b)
    }

  /** (vector count, candidate-pair upper bound) under the CURRENT
    * bucket knobs — one partial-aggregable groupBy, never the pairs. */
  private[operators] def semDedupPairBound(spark: SparkSession,
      dir: String): (Long, Long) = {
    val bits = lshBits(spark)
    val bands = lshBands(spark)
    val base = scaledEmb(spark, dir)
    val bucketed =
      if (bands == 1)
        base.select(lit(0).as("band"), signBucket(col("sv"), bits).as("bk"))
      else
        base.select(explode(array((0 until bands).map(bd =>
            struct(lit(bd).as("band"),
              signBucketAt(col("sv"), bits, bd * bits).as("bk"))): _*))
            .as("bb"))
          .select(col("bb.band").as("band"), col("bb.bk").as("bk"))
    val r = bucketed.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("nb"))
      .agg(sum(shiftright(col("nb") * (col("nb") - lit(1L)), 1)).as("bound"),
        sum(col("nb")).as("tot"))
      .collect()(0)
    (r.getLong(1) / bands, r.getLong(0))
  }

  /** The guard DECISION: Some(k) = auto-apply degree budget k, None =
    * build the edge list uncapped. Exposed for the spec. */
  private[graft] def semDedupAutoCap(spark: SparkSession,
      dir: String): Option[Int] =
    if (maxPairs(spark).nonEmpty) None // explicit operator cap wins
    else semDedupBudget(spark).flatMap { budget =>
      val (n, bound) = semDedupPairBound(spark, dir)
      if (bound <= budget) None
      else {
        val k = math.min(Int.MaxValue.toLong,
          math.max(1L, budget / math.max(1L, n))).toInt
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"graft semantic dedup: candidate-pair bound $bound exceeds " +
            s"$SemDedupBudgetConf=$budget for $n vectors - " +
            s"auto-applying per-vector degree budget k=$k (run " +
            "q251_threshold_curve to price a tighter threshold, or set " +
            s"$MaxPairsConf / $SemDedupBudgetConf=off to override)")
        Some(k)
      }
    }

  /** Memoized semantic-cluster labels (vec_id → component min) over the
    * q40 near-dup graph — shared by q77's decision table and the q78
    * curation funnel (ONE definition per cache key, so the shared cache
    * can only ever hold one semantics). */
  private[operators] def embCcLabels(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "embCcLabels") {
      // The symmetric edge list is referenced by EVERY fixpoint round
      // (hop join + the materializing sum action) — cache it, or each
      // round re-runs the whole q40 bucketed self-join + cosine filter
      // (the same reason Dedup.ccLabels caches its edge list).
      // Leaf-cut like Dedup's edge cache: every fixpoint round re-plans
      // against this frame, and a plain persist would make each round's
      // driver-side planning walk the whole q40 lineage it embeds.
      val edges = Features.cachedFrame(spark, dir, "embDedupEdges") {
        val raw = nearDupPairsRaw(spark, dir, TestdataNearDupCosine)
        // effective cap: the operator's explicit knob, else the
        // pre-flight guard's decision (None = oracle-pinned uncapped)
        val pairs = maxPairs(spark).orElse(semDedupAutoCap(spark, dir))
          .fold(raw)(applyPairBudget(raw, _))
          .select(col("a_id"), col("b_id"))
        pairs.union(pairs.select(col("b_id"), col("a_id")))
          .toDF("src", "dst").localCheckpoint()
      }
      Dedup.ccLabelsAuto(edges).labels
    }

  /** q40's pair SQL (no ORDER BY), exposed for q78's funnel oracle. */
  private[operators] def semNearDupPairsSql: String = q40CoreSql

  private def q77(spark: SparkSession, dir: String): DataFrame = {
    val labels = embCcLabels(spark, dir)
    scaledEmb(spark, dir).select(col("vec_id"), col("label"))
      .join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("lbl"), col("vec_id")).as("canonical_vec"))
      .withColumn("keep", col("canonical_vec") === col("vec_id"))
      .orderBy(col("vec_id"))
  }

  private val q77Sql =
    s"""WITH RECURSIVE
       |pairs AS ($q40CoreSql),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL
       |  SELECT b_id AS src, a_id AS dst FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
       |base AS ($scaledEmbSql)
       |SELECT b.vec_id, b.label,
       |  coalesce(l.lbl, b.vec_id) AS canonical_vec,
       |  coalesce(l.lbl, b.vec_id) = b.vec_id AS keep
       |FROM base b
       |LEFT JOIN labels l ON l.id = b.vec_id
       |ORDER BY b.vec_id""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Embedding-table quality profile per label: exact squared-norm
    * stats plus degenerate-vector counts (near-zero norm = a failed
    * encoder run; exact-duplicate vectors = collapsed representations) —
    * the ingest gate for an embedding table, the vector twin of the
    * text-side q62 profile. All int64-exact except one final average. */
  private def q71(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    emb.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"),
        (sum(col("n2")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("avg_n2"),
        sum(when(col("n2") < 1000000L, 1L).otherwise(0L)).as("n_degenerate"),
        (count(lit(1)) - countDistinct(col("sv"))).as("n_exact_dup_vecs"))
      .orderBy(col("label"))
  }

  private val q71Sql =
    s"""WITH emb AS ($scaledEmbSql)
       |SELECT label,
       |  count(*) AS n_vecs,
       |  min(n2) AS min_n2,
       |  max(n2) AS max_n2,
       |  CAST(sum(n2) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_n2,
       |  CAST(sum(CASE WHEN n2 < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_degenerate,
       |  CAST(count(*) - count(DISTINCT sv) AS BIGINT) AS n_exact_dup_vecs
       |FROM emb
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q79
  /** One LLOYD ITERATION of spherical k-means over the embedding table —
    * the codebook TRAINING step that IVF ANN (q44) consumes, and the
    * clustering primitive cluster-balanced curation (SemDeDup-style
    * pipelines) iterates. Deterministic seeding: the [[KmeansK]] vectors
    * with the smallest ids (the portable stand-in for a sampled init).
    * Per cluster the report carries membership count, mean member→seed
    * cosine (the inertia the next iteration would improve), and the
    * seed→new-centroid cosine (drift — convergence is drift→1).
    *
    * Everything stays exact: assignment reuses q44's hash-aggregable
    * argmax over IEEE-deterministic cosines, the centroid update is 64
    * partial-aggregable int64 sums, and drift needs NO division because
    * cosine is scale-invariant — cos(seed, sum) IS cos(seed, mean).
    *
    * Scale posture: one broadcast cross-join + map-side-combining argmax
    * (K buffers per task, identical shape to q44's cell assignment), one
    * groupBy shuffling K×(64+2) longs total, one K-row broadcast join.
    * The full k-means loop is this step iterated with the report's `cs`
    * fed back as seeds — per-iteration cost is exactly this plan. */
  private val KmeansK = 8

  private def q79(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val seeds = emb.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("s_id"), col("sv").as("ssv"),
        col("n2").as("sn2"))
    val best = emb.crossJoin(broadcast(seeds))
      .withColumn("scos",
        cosine(dotL(col("sv"), col("ssv")), col("n2"), col("sn2")))
      .groupBy(col("vec_id"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("scos"), negate(col("s_id"))),
        struct(col("s_id"),
          floor(col("scos") * 1000000.0).cast(LongType).as("cos_u"),
          col("sv"))).as("b"))
    val assigned = best.select(col("b.s_id").as("cluster_id"),
      col("b.cos_u").as("cos_u"), col("b.sv").as("sv"))
    val aggs = Seq(count(lit(1)).as("n_members"),
      sum(col("cos_u")).as("sum_cos_u")) ++
      (0 until Dim).map(i => sum(element_at(col("sv"), i + 1)).as(s"c$i"))
    val newc = assigned.groupBy(col("cluster_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cluster_id"), col("n_members"), col("sum_cos_u"),
        array((0 until Dim).map(i => col(s"c$i")): _*).as("cs"))
      .withColumn("csn2", dotL(col("cs"), col("cs")))
    newc.join(broadcast(seeds), col("cluster_id") === col("s_id"))
      .select(col("cluster_id"), col("n_members"), col("sum_cos_u"),
        (col("sum_cos_u").cast(DoubleType) /
          col("n_members").cast(DoubleType) / 1000000.0).as("avg_cos"),
        floor(cosine(dotL(col("cs"), col("ssv")), col("csn2"), col("sn2"))
          * 1000000.0).cast(LongType).as("drift_micro"))
      .orderBy(col("cluster_id"))
  }

  private val q79Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |seeds AS (
       |  SELECT vec_id AS s_id, sv AS ssv, n2 AS sn2 FROM emb
       |  WHERE vec_id < $KmeansK),
       |scored AS (
       |  SELECT e.vec_id, e.sv, s.s_id,
       |    ${cosineSql(dotLSql("e.sv", "s.ssv"), "e.n2", "s.sn2")} AS scos
       |  FROM emb e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT s_id AS cluster_id,
       |    CAST(floor(scos * 1000000.0) AS BIGINT) AS cos_u, sv
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY scos DESC, s_id) AS rnk
       |        FROM scored)
       |  WHERE rnk = 1),
       |pos AS (
       |  SELECT cluster_id, unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM assigned),
       |csum AS (
       |  SELECT cluster_id, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |newc AS (SELECT cluster_id, list(s ORDER BY p0) AS cs FROM csum GROUP BY 1),
       |stats AS (
       |  SELECT cluster_id, count(*) AS n_members,
       |    CAST(sum(cos_u) AS BIGINT) AS sum_cos_u
       |  FROM assigned GROUP BY 1)
       |SELECT st.cluster_id, st.n_members, st.sum_cos_u,
       |  CAST(st.sum_cos_u AS DOUBLE) / CAST(st.n_members AS DOUBLE)
       |    / 1000000.0 AS avg_cos,
       |  CAST(floor(${cosineSql(dotLSql("n.cs", "sd.ssv"),
                dotLSql("n.cs", "n.cs"), "sd.sn2")} * 1000000.0) AS BIGINT)
       |    AS drift_micro
       |FROM stats st
       |JOIN newc n ON st.cluster_id = n.cluster_id
       |JOIN seeds sd ON st.cluster_id = sd.s_id
       |ORDER BY st.cluster_id""".stripMargin

  // ----------------------------------------------------------------

  /** One spherical-k-means run to CONVERGENCE: per-round centroids,
    * round count, and the full int64 inertia trace (Σ cos_u of each
    * vector's best assignment — monotone non-decreasing under Lloyd
    * steps, up to the micro-unit floor). */
  private[graft] final case class KmeansRun(centroids: DataFrame,
      rounds: Int, inertiaU: Seq[Long])

  /** FULL LLOYD LOOP — q79 is one step; this iterates it to a fixpoint,
    * the [[graft.operators.Dedup.ccLabelsAuto]] of the vector suite.
    * Every round keeps q79's scale shape: the k-row centroid codebook
    * BROADCASTS (never the vectors), assignment is one hash-argmax
    * aggregate (`graft_argmax` under ObjectHashAggregate, map-side
    * combine), the centroid update is `dim` int64 positional sums in
    * the same aggregate pass — ONE shuffle per round, keyed by the
    * uniform vec_id then by the ≤ k cluster ids.
    *
    * Driver discipline (the ccLabelsAuto contract): ONE scalar action
    * per round — the int64 inertia Σ cos_u, which doubles as the
    * convergence test (stop when a round improves by less than `epsU`
    * micro-units, or on `maxRounds`). Each round's k-row codebook is
    * eagerly `localCheckpoint`ed and the previous generation freed, so
    * the plan stays round-depth-constant instead of nesting every
    * previous round's tree (the lineage pathology rounds 4–5 hunted).
    *
    * Determinism: centroids stay micro-scaled int64 — the positional
    * mean is exact int64 floor division `(s − pmod(s, n)) / n`, never a
    * double mean — so a re-run (or a different partitioning) walks the
    * identical centroid sequence; argmax ties break on the lower
    * cluster id. Empty clusters keep their previous centroid.
    *
    * Not SQL-oracle-expressible (data-dependent round count — SURVEY
    * §5); `KmeansAutoSpec` pins planted-cluster recovery, the monotone
    * inertia trace, round-depth-constant plans, and partitioning
    * invariance. */
  private[graft] def kmeansAuto(emb: DataFrame, k: Int, dim: Int,
      maxRounds: Int = 20, epsU: Long = 1000L): KmeansRun = {
    val spark = emb.sparkSession
    graft.functions.VectorExprs.ensureRegistered(spark)
    var centroids = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("sv").as("cv"),
        col("n2").as("cn2"))
      .localCheckpoint(true)

    def assign(c: DataFrame): DataFrame =
      emb.crossJoin(broadcast(c))
        .withColumn("scos",
          cosine(dotL(col("sv"), col("cv")), col("n2"), col("cn2")))
        .groupBy(col("vec_id"))
        .agg(graft.functions.ArgMaxAgg.argMax(
          struct(col("scos"), negate(col("c_id"))),
          struct(col("c_id"),
            floor(col("scos") * 1000000.0).cast(LongType).as("cos_u"),
            col("sv"))).as("b"))
        .select(col("b.c_id").as("c_id"), col("b.cos_u").as("cos_u"),
          col("b.sv").as("sv"))

    var inertia = List.empty[Long] // reverse order
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      val a = assign(centroids)
      val aggs = Seq(count(lit(1)).as("n"),
        sum(col("cos_u")).as("sum_cos_u")) ++
        (0 until dim).map(i => sum(element_at(col("sv"), i + 1)).as(s"c$i"))
      val upd = a.groupBy(col("c_id")).agg(aggs.head, aggs.tail: _*)
      // exact int64 floor mean per component; empty clusters (absent
      // from upd) keep their previous centroid via the left join
      val meanArr = array((0 until dim).map(i =>
        ((col(s"c$i") - pmod(col(s"c$i"), col("n"))) / col("n"))
          .cast(LongType)): _*)
      val next = centroids.select(col("c_id"), col("cv").as("pcv"))
        .join(upd, Seq("c_id"), "left")
        .select(col("c_id"),
          when(col("n").isNull, col("pcv")).otherwise(meanArr).as("cv"))
        .withColumn("cn2", dotL(col("cv"), col("cv")))
        .localCheckpoint(true) // k rows; cuts the round's lineage
      // the ONE driver-visible scalar per round
      val inertiaU = {
        val v = a.agg(sum(col("cos_u"))).head().get(0)
        if (v == null) 0L else v.asInstanceOf[Long]
      }
      done = inertia.headOption.exists(prev => inertiaU - prev < epsU)
      inertia ::= inertiaU
      Features.freeFrame(centroids)
      centroids = next
    }
    KmeansRun(centroids, rounds, inertia.reverse)
  }

  // ---------------------------------------------------------------- q100
  /** PER-SOURCE EMBEDDING DRIFT — the model-version-skew monitor a
    * multimodal corpus runs at ingest: each source's mean embedding
    * direction vs the global mean direction, as a cosine. A feed whose
    * blobs were encoded by a different embedding-model version (or a
    * corrupted preprocessing shard) points its centroid away from the
    * corpus — exactly the silent failure that poisons every downstream
    * ANN/centroid/semantic-dedup result (q38/q41/q77) while each
    * individual vector still LOOKS valid. Complements q97: that audits
    * the relation's keys, this audits the geometry.
    *
    * Determinism: per-source component sums are exact int64; the mean
    * is exact int64 floor division ((s − pmod(s, n)) / n — spelled the
    * same way in the oracle because DuckDB's `//` TRUNCATES toward
    * zero on negatives while this corpus's embedding sums can be
    * negative); the global mean re-aggregates the source sums (one
    * vocabulary-free second aggregate, no second corpus scan); the
    * single float step is q38's one-multiply-one-sqrt-one-divide
    * cosine on identical int64 operands.
    *
    * Scale posture: one join keyed by the uniform vec_id (co-located
    * under key bucketing), one partial-aggregable 64-sum groupBy per
    * source, a ≤-sources-sized re-aggregate, and a single-row global
    * frame broadcast back — payload vectors never shuffle twice.
    * Floor-mean components stay 10⁴-scaled regardless of corpus size,
    * so the final dot products can never overflow int64 (raw-sum dots
    * would at ~10¹⁰ rows). */
  // Memoized per (session, dir): composed by the q174 drift panel.
  private def q100(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "q100EmbDrift") {
    val j = scaledEmb(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"), col("sv"))
    def floorDiv(s: Column, n: Column): Column =
      ((s - pmod(s, n)) / n).cast(LongType)
    val aggs = Seq(count(lit(1)).as("n_vecs")) ++
      (0 until Dim).map(i => sum(element_at(col("sv"), i + 1)).as(s"s$i"))
    val ssum = j.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    val cmean = ssum.select(col("source"), col("n_vecs"),
      array((0 until Dim).map(i =>
        floorDiv(col(s"s$i"), col("n_vecs"))): _*).as("m"))
    val gaggs = Seq(sum(col("n_vecs")).as("gn")) ++
      (0 until Dim).map(i => sum(col(s"s$i")).as(s"g$i"))
    val g = ssum.agg(gaggs.head, gaggs.tail: _*)
      .select(array((0 until Dim).map(i =>
        floorDiv(col(s"g$i"), col("gn"))): _*).as("gm"))
      .withColumn("gn2", dotL(col("gm"), col("gm")))
    cmean.crossJoin(broadcast(g))
      .select(col("source"), col("n_vecs"),
        floor(lit(1000000.0) * cosine(dotL(col("m"), col("gm")),
          dotL(col("m"), col("m")), col("gn2"))).cast(LongType)
          .as("drift_u"))
      .orderBy(col("source"))
  }

  private lazy val q100Sql = {
    def fd(s: String, n: String): String =
      s"CAST(($s - ((($s) % ($n)) + ($n)) % ($n)) / ($n) AS BIGINT)"
    s"""WITH emb AS ($scaledEmbSql),
       |j AS (SELECT d.source, e.sv
       |      FROM emb e JOIN documents d ON e.vec_id = d.doc_id),
       |pos AS (SELECT source, unnest(range(1, $Dim + 1)) AS p,
       |               unnest(sv) AS v FROM j),
       |psum AS (SELECT source, p, CAST(sum(v) AS BIGINT) AS s
       |         FROM pos GROUP BY 1, 2),
       |cnt AS (SELECT source, count(*) AS n_vecs FROM j GROUP BY 1),
       |cmean AS (SELECT source, p, ${fd("s", "n_vecs")} AS m
       |          FROM psum JOIN cnt USING (source)),
       |gsum AS (SELECT p, CAST(sum(s) AS BIGINT) AS gs FROM psum GROUP BY p),
       |gcnt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS gn FROM cnt),
       |gmean AS (SELECT p, ${fd("gs", "gn")} AS gm FROM gsum, gcnt),
       |dots AS (
       |  SELECT source, CAST(sum(m * gm) AS BIGINT) AS dot,
       |    CAST(sum(m * m) AS BIGINT) AS n2m,
       |    CAST(sum(gm * gm) AS BIGINT) AS n2g
       |  FROM cmean JOIN gmean USING (p) GROUP BY source)
       |SELECT d.source, c.n_vecs,
       |  CAST(floor(1000000.0 * ${cosineSql("dot", "n2m", "n2g")})
       |    AS BIGINT) AS drift_u
       |FROM dots d JOIN cnt c USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q105
  /** SEMANTIC DECONTAMINATION — the embedding-level companion of the
    * n-gram decontamination q73 runs over the SAME eval slice
    * (`id % 17 == 0`; vec_id and doc_id share the id space, q97's
    * audited relation): flag every training vector whose cosine to ANY
    * eval vector crosses the threshold. This is the leak n-gram overlap
    * cannot see — a benchmark passage paraphrased or re-encoded shares
    * no 3-grams with the eval set but keeps a near-identical embedding,
    * and it is the standard second gate modern decontamination runs
    * (embedding-similarity dedup against eval, per GPT-4/Llama-style
    * contamination reports).
    *
    * Threshold 0.2 is the FIXTURE cut (the synthetic corpus has no
    * planted eval paraphrases; in-bucket cross cosines top out at
    * ~0.29, so 0.2 exercises the full pipeline against the oracle);
    * production uses ~0.9 — one constant, same plan.
    *
    * Scale posture: q40's sign-LSH buckets prune the candidate space
    * (never all-pairs), and the EVAL side is broadcast (benchmarks are
    * 10³–10⁵ vectors by nature) — the 100 TB training side streams
    * through a broadcast hash join on the bucket key with NO shuffle,
    * then one partial-aggregable per-vector aggregate; `lshBits` is
    * the same log(n) knob q39/q40 carry. */
  val SemContCosine = 0.2

  private def q105(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
      .withColumn("bkt", signBucket(col("sv"), lshBits(spark)))
    val ev = emb.filter(col("vec_id") % Dedup.EvalSliceMod === 0)
      .select(col("vec_id").as("e_id"), col("sv").as("e_sv"),
        col("n2").as("e_n2"), col("bkt"))
    semContamOver(emb.filter(col("vec_id") % Dedup.EvalSliceMod =!= 0), ev)
      .orderBy(col("vec_id"))
  }

  /** q105's per-vector contamination scores over an already-scaled,
    * already-bucketed training frame `(vec_id, sv, n2, bkt, …)` vs a
    * broadcast eval frame `(e_id, e_sv, e_n2, bkt)` — shared verbatim by
    * batch q105 and the streaming gate, so stream/batch parity is
    * structural. */
  private[graft] def semContamOver(train: DataFrame, ev: DataFrame): DataFrame =
    train.join(broadcast(ev), "bkt")
      .withColumn("cos", cosine(dotL(col("sv"), col("e_sv")),
        col("n2"), col("e_n2")))
      .filter(col("cos") >= SemContCosine)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        floor(lit(1000000.0) * max(col("cos"))).cast(LongType)
          .as("max_cos_u"),
        min(col("e_id")).as("closest_eval"))

  /** The FROZEN eval-vector artifact q105 joins against — the scaled +
    * sign-LSH-bucketed benchmark slice, shipped whole to the streaming
    * gate (benchmarks are 10³–10⁵ vectors by nature, broadcast-sized at
    * any corpus scale). */
  private[graft] def semContamEvalVecs(spark: SparkSession,
      dir: String): DataFrame =
    scaledEmb(spark, dir)
      .filter(col("vec_id") % Dedup.EvalSliceMod === 0)
      .select(col("vec_id").as("e_id"), col("sv").as("e_sv"),
        col("n2").as("e_n2"),
        signBucket(col("sv"), lshBits(spark)).as("bkt"))

  /** Streaming-facing leg: score an ARBITRARY raw embeddings micro-batch
    * `(vec_id, embedding, …)` against the frozen eval-vector artifact.
    * Scaling + bucketing per batch reuses [[Features.scaledEmbOver]] and
    * the same `signBucket`, so a gate decision is bit-identical to what
    * batch q105 would decide for the same vector. */
  private[graft] def semContamScoresOver(embRaw: DataFrame, evalVecs: DataFrame,
      bits: Int = DefaultLshBits): DataFrame = {
    val t = Features.scaledEmbOver(embRaw)
      .withColumn("bkt", signBucket(col("sv"), bits))
      .select(col("vec_id"), col("sv"), col("n2"), col("bkt"))
    semContamOver(t, evalVecs)
  }

  private lazy val q105Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |ev AS (SELECT vec_id AS e_id, sv AS e_sv, n2 AS e_n2, bkt
       |       FROM emb WHERE vec_id % ${Dedup.EvalSliceMod} = 0),
       |hits AS (
       |  SELECT t.vec_id, e.e_id,
       |    ${cosineSql(dotLSql("t.sv", "e.e_sv"), "t.n2", "e.e_n2")} AS cos
       |  FROM emb t JOIN ev e ON t.bkt = e.bkt
       |  WHERE t.vec_id % ${Dedup.EvalSliceMod} <> 0)
       |SELECT vec_id, count(*) AS n_hits,
       |  CAST(floor(1000000.0 * max(cos)) AS BIGINT) AS max_cos_u,
       |  min(e_id) AS closest_eval
       |FROM hits WHERE cos >= $SemContCosine
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q106
  /** CLUSTER-BASED PROTOTYPICALITY PRUNING — the data-pruning step
    * SSL-Prototypes-style curation runs after clustering: score every
    * vector against the TRAINED centroids (here, the codebook after
    * q79's Lloyd step — training → pruning composition), rank members
    * within each cluster by closeness to their centroid, and prune the
    * most prototypical quarter. The intuition (Sorscher et al.,
    * "Beyond neural scaling laws"): in the big-data regime the
    * easy/prototypical examples are the redundant ones — dropping them
    * beats random pruning — while the far-from-centroid tail carries
    * the diversity worth keeping. The per-member `proto_cos_u` is the
    * same micro-unit cosine q79 reports per cluster, so the pruning
    * decision is exactly reproducible from the training artifacts.
    *
    * Everything stays exact: the centroid re-derivation is q79's int64
    * component sums, assignment is the hash-aggregable argmax over
    * IEEE-deterministic cosines (ties → smallest cluster), and ranks
    * tie-break on vec_id — a total order, so the oracle hash-matches.
    *
    * Scale posture: two broadcast cross-joins against K-row codebooks
    * (argmax is map-side-combining, K buffers per task), one groupBy
    * shuffling K×64 longs, then ONE row_number window partitioned by
    * cluster — at 100 TB with K clusters that window is the skew
    * hazard (n/K rows per partition), and the production form swaps
    * the exact rank for a per-cluster cos-quantile threshold
    * (approx-percentile broadcast back, O(1) memory, same decisions in
    * the non-boundary mass); the exact rank is kept here because it is
    * what the oracle can pin. */
  private val ProtoPruneDen = 4L

  private def q106(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val seeds = emb.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("s_id"), col("sv").as("ssv"),
        col("n2").as("sn2"))
    val assigned = emb.crossJoin(broadcast(seeds))
      .withColumn("scos",
        cosine(dotL(col("sv"), col("ssv")), col("n2"), col("sn2")))
      .groupBy(col("vec_id"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("scos"), negate(col("s_id"))),
        struct(col("s_id"), col("sv"))).as("b"))
      .select(col("b.s_id").as("cluster_id"), col("b.sv").as("sv"))
    val sums = (0 until Dim).map(i =>
      sum(element_at(col("sv"), i + 1)).as(s"c$i"))
    val cens = assigned.groupBy(col("cluster_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("cluster_id"),
        array((0 until Dim).map(i => col(s"c$i")): _*).as("cs"))
      .withColumn("cn2", dotL(col("cs"), col("cs")))
    val best = emb.crossJoin(broadcast(cens))
      .withColumn("rcos",
        cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2")))
      .groupBy(col("vec_id"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("rcos"), negate(col("cluster_id"))),
        struct(col("cluster_id"),
          floor(col("rcos") * 1000000.0).cast(LongType)
            .as("proto_cos_u"))).as("b"))
      .select(col("vec_id"), col("b.cluster_id").as("cluster_id"),
        col("b.proto_cos_u").as("proto_cos_u"))
    if (Features.approxQuantiles(spark)) {
      // The documented 100 TB swap (scaladoc above): per-cluster
      // approx-percentile thresholds instead of the rank window — one
      // partial-aggregable groupBy over K cells, broadcast back, no
      // per-cluster row concentration. Pruned = proto_cos_u at or above
      // the (1 − 1/Den) quantile; clusters too small to prune a whole
      // member (floor(n/Den) = 0 in the exact form) keep everything.
      // Schema swaps the exact rank for the threshold that replaced it.
      val thr = best.groupBy(col("cluster_id"))
        .agg(percentile_approx(col("proto_cos_u"),
            lit(1.0 - 1.0 / ProtoPruneDen), lit(10000)).as("thr_u"),
          count(lit(1)).as("n_cluster"))
      best.join(broadcast(thr), "cluster_id")
        .withColumn("decision",
          when(col("proto_cos_u") >= col("thr_u") &&
            col("n_cluster") >= lit(ProtoPruneDen), "pruned")
            .otherwise("kept"))
        .select(col("vec_id"), col("cluster_id"), col("proto_cos_u"),
          col("thr_u"), col("n_cluster"), col("decision"))
        .orderBy(col("vec_id"))
    } else {
      val wRank = Window.partitionBy(col("cluster_id"))
        .orderBy(col("proto_cos_u").desc, col("vec_id"))
      val wAll = Window.partitionBy(col("cluster_id"))
      best
        .withColumn("proto_rank", row_number().over(wRank).cast(LongType))
        .withColumn("n_cluster", count(lit(1)).over(wAll))
        .withColumn("decision",
          when(col("proto_rank") <=
            floor(col("n_cluster") / lit(ProtoPruneDen)).cast(LongType),
            "pruned").otherwise("kept"))
        .select(col("vec_id"), col("cluster_id"), col("proto_cos_u"),
          col("proto_rank"), col("n_cluster"), col("decision"))
        .orderBy(col("vec_id"))
    }
  }

  private lazy val q106Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |seeds AS (
       |  SELECT vec_id AS s_id, sv AS ssv, n2 AS sn2 FROM emb
       |  WHERE vec_id < $KmeansK),
       |scored AS (
       |  SELECT e.vec_id, e.sv, s.s_id,
       |    ${cosineSql(dotLSql("e.sv", "s.ssv"), "e.n2", "s.sn2")} AS scos
       |  FROM emb e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT s_id AS cluster_id, sv
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY scos DESC, s_id) AS rnk
       |        FROM scored)
       |  WHERE rnk = 1),
       |pos AS (
       |  SELECT cluster_id, unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM assigned),
       |csum AS (
       |  SELECT cluster_id, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |newc AS (SELECT cluster_id, list(s ORDER BY p0) AS cs FROM csum GROUP BY 1),
       |cens AS (SELECT cluster_id, cs, ${dotLSql("cs", "cs")} AS cn2 FROM newc),
       |scored2 AS (
       |  SELECT e.vec_id, c.cluster_id,
       |    ${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")} AS rcos
       |  FROM emb e CROSS JOIN cens c),
       |best AS (
       |  SELECT vec_id, cluster_id,
       |    CAST(floor(rcos * 1000000.0) AS BIGINT) AS proto_cos_u
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY rcos DESC, cluster_id) AS rnk
       |        FROM scored2)
       |  WHERE rnk = 1),
       |ranked AS (
       |  SELECT vec_id, cluster_id, proto_cos_u,
       |    CAST(row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY proto_cos_u DESC, vec_id) AS BIGINT) AS proto_rank,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_cluster
       |  FROM best)
       |SELECT vec_id, cluster_id, proto_cos_u, proto_rank, n_cluster,
       |  CASE WHEN proto_rank <= n_cluster // $ProtoPruneDen
       |       THEN 'pruned' ELSE 'kept' END AS decision
       |FROM ranked ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** CROSS-TABLE REFERENTIAL-INTEGRITY AUDIT — the relation the whole
    * cross-modal stack (q66/q77) silently assumes: `embeddings.vec_id`
    * keys into `documents.doc_id`. One row of contract checks a
    * multimodal corpus runs at ingest: orphan counts on BOTH sides
    * (docs with no vector are un-searchable; vectors with no doc are
    * dangling index entries that would serve dead results), key
    * duplication on either side (a dup vec_id silently doubles that
    * vector's vote in every centroid/cluster aggregate), and dimension
    * drift (a mis-encoded batch with the wrong dim poisons every dot
    * product). Complements q62, which profiles columns WITHIN a table —
    * this audits the relation BETWEEN the modalities.
    *
    * Scale posture: two left-anti joins on the uniform id key plus
    * key-grouped duplicate counts — all partial-aggregable, output is
    * one row. At 100 TB both sides bucket by their key, making the anti
    * joins co-located. */
  private def q97(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"))
    val docsNoVec = docs.join(vecs, col("doc_id") === col("vec_id"),
      "left_anti").agg(count(lit(1)).as("n")).select(col("n"))
    val vecsNoDoc = vecs.join(docs, col("vec_id") === col("doc_id"),
      "left_anti").agg(count(lit(1)).as("n")).select(col("n"))
    def dupKeys(df: DataFrame, key: String) =
      df.groupBy(col(key)).agg(count(lit(1)).as("c")).filter(col("c") > 1L)
        .agg(count(lit(1)).as("n")).select(col("n"))
    val counts = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(vecs.agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= Dim.toLong, 1L).otherwise(0L))
          .as("n_dim_mismatch"))))
    counts
      .crossJoin(broadcast(docsNoVec.toDF("n_docs_without_vec")))
      .crossJoin(broadcast(vecsNoDoc.toDF("n_vecs_without_doc")))
      .crossJoin(broadcast(dupKeys(docs, "doc_id").toDF("n_dup_doc_ids")))
      .crossJoin(broadcast(dupKeys(vecs.select(col("vec_id")), "vec_id")
        .toDF("n_dup_vec_ids")))
  }

  private val q97Sql =
    s"""SELECT
       |  (SELECT count(*) FROM documents) AS n_docs,
       |  (SELECT count(*) FROM embeddings) AS n_vecs,
       |  CAST((SELECT sum(CASE WHEN len(embedding) <> $Dim THEN 1 ELSE 0 END)
       |        FROM embeddings) AS BIGINT) AS n_dim_mismatch,
       |  (SELECT count(*) FROM documents d
       |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
       |    AS n_docs_without_vec,
       |  (SELECT count(*) FROM embeddings e
       |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
       |    AS n_vecs_without_doc,
       |  (SELECT count(*) FROM (SELECT doc_id FROM documents
       |    GROUP BY 1 HAVING count(*) > 1)) AS n_dup_doc_ids,
       |  (SELECT count(*) FROM (SELECT vec_id FROM embeddings
       |    GROUP BY 1 HAVING count(*) > 1)) AS n_dup_vec_ids""".stripMargin

  // ---------------------------------------------------------------- q124
  /** HARD-NEGATIVE MINING — the retriever-training data prep between
    * q38's nearest neighbors and a random negative: for each query
    * vector, the top-[[HardNegK]] candidates whose cosine falls in the
    * mid band [[HardNegLo]], [[HardNegHi]]) — close enough to confuse a
    * model trained with random negatives (which are ~orthogonal in high
    * dimension and teach nothing), far enough to be confidently
    * non-matches under the ANN stack's own dedup/decontam thresholds
    * (q40/q105 own everything above the band). This is the standard
    * contrastive-curriculum mining pass (DPR/ANCE-style): the band
    * floor excludes the trivially-far mass, the band ceiling excludes
    * probable positives the labeler should see instead.
    *
    * Determinism: the band test and ranking run on the exact-int64-dot
    * cosine (one multiply, one sqrt, one divide — bit-identical across
    * engines); the per-query order is total (cos desc, vec_id asc).
    *
    * Scale posture: q38's exact plan — tiny query set broadcast, the
    * candidate side streams, band filter BELOW the window so only
    * in-band rows reach the per-query top-k; at production query-batch
    * sizes the mining runs over q39's bucket-pruned candidates instead
    * (same band + window, ANN-bounded candidate work). */
  private[graft] val HardNegK = 5
  private[graft] val HardNegLo = 0.10
  private[graft] val HardNegHi = 0.30

  private def q124(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val qs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.filter(col("vec_id") >= NQueries)
      .crossJoin(broadcast(qs))
      .withColumn("cos", cosine(dotL(col("sv"), col("qv")), col("n2"), col("qn2")))
      .filter(col("cos") >= HardNegLo && col("cos") < HardNegHi)
      .select(col("q_id"), col("vec_id"), col("label"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HardNegK)
      .orderBy(col("q_id"), col("rank"))
  }

  private lazy val q124Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.label,
       |    ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")} AS cos
       |  FROM emb c CROSS JOIN emb q
       |  WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries),
       |banded AS (
       |  SELECT * FROM scored WHERE cos >= $HardNegLo AND cos < $HardNegHi)
       |SELECT q_id, vec_id, label, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank
       |  FROM banded)
       |WHERE rank <= $HardNegK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q126
  /** PER-SOURCE LABEL-DISTRIBUTION PSI — the classifier-output drift
    * monitor: each source's distribution over the embedding table's
    * predicted labels vs the corpus mixture, as a Population Stability
    * Index over the fixed [[LabelDomain]]-cell label domain (q117's
    * PSI recipe swapped from length buckets to a CATEGORICAL feature).
    * This is the monitor a deployed classifier pipeline (the
    * reference's own inference output — 30 garbage classes,
    * `/root/reference/python/predict_batch_threaded_local.py:147-160` —
    * generalized) actually watches: a feed whose label mix shifts has
    * changed its content mix even when its length (q117), vocabulary
    * (q101), and embedding geometry (q100) still look stable — the
    * four monitors together cover every feature family the corpus
    * carries. Standard triage bands: < 0.1 stable, 0.1–0.25 watch,
    * > 0.25 investigate.
    *
    * Arithmetic: [[Divergence.psi]], q117's kernel. The domain is FIXED
    * by design (PSI is only comparable across feeds/time over a shared
    * domain — deriving it from the data would let a drifted feed move
    * everyone's baseline); the flip side is that labels OUTSIDE
    * [[LabelDomain]] would inflate the totals while contributing no
    * cell, understating PSI — a label outside the classifier's known
    * set is a schema violation that q62's profile / q97's relation
    * audit must catch upstream, not a distribution shift for this
    * monitor to absorb.
    *
    * Scale posture: the vec_id↔doc_id join (the relation q97 audits)
    * is the only corpus-sized operation — uniform keys, co-locatable
    * under id bucketing; the rest is the kernel's sources×labels
    * partial-aggregable count and keys-sized reduce. */
  private[graft] val LabelDomain = 10L

  // Memoized per (session, dir): composed by the q174 drift panel.
  private def q126(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "q126LabelPsi") {
    val cells = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast(LongType).as("lbl"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    Divergence.psi(cells, "source", "lbl", LabelDomain)
      .select(col("source"), col("n").as("n_vecs"), col("psi_u"))
      .orderBy(col("psi_u").desc, col("source"))
  }

  private lazy val q126Sql =
    s"""WITH cells AS (
       |  SELECT d.source, CAST(e.label AS BIGINT) AS lbl, count(*) AS cnt
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |  GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s
       |         FROM cells GROUP BY 1),
       |corp AS (SELECT lbl, CAST(sum(cnt) AS BIGINT) AS ccnt
       |         FROM cells GROUP BY 1),
       |ctot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS n_c FROM corp),
       |dom AS (
       |  SELECT source, n_s, unnest(range(0, $LabelDomain)) AS lbl FROM stot),
       |probs AS (
       |  SELECT dom.source, dom.n_s,
       |    CAST(coalesce(cells.cnt, 0) + 1 AS DOUBLE) /
       |      CAST(dom.n_s + $LabelDomain AS DOUBLE) AS ps,
       |    CAST(coalesce(corp.ccnt, 0) + 1 AS DOUBLE) /
       |      CAST(ctot.n_c + $LabelDomain AS DOUBLE) AS pc
       |  FROM dom
       |  LEFT JOIN cells ON dom.source = cells.source AND dom.lbl = cells.lbl
       |  LEFT JOIN corp ON dom.lbl = corp.lbl, ctot)
       |SELECT source, CAST(max(n_s) AS BIGINT) AS n_vecs,
       |  CAST(sum(CAST(floor(1000000.0 * (ps - pc) * ln(ps / pc))
       |    AS BIGINT)) AS BIGINT) AS psi_u
       |FROM probs GROUP BY source
       |ORDER BY psi_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q130
  /** IVF CELL-PROFILE AUDIT — the index-health report an ANN deployment
    * reads before serving q44's index: per coarse cell, the member
    * count, corpus share, and load factor vs the balanced ideal
    * (10⁶ = exactly corpus/K members). Hot cells (load ≫ 10⁶) are the
    * serving latency tail — every query probing that cell scans its
    * whole member list — and near-empty cells are wasted codebook
    * capacity plus a recall hazard (their few members attract probes
    * from a wide region). The index-build sibling of q113: q113 audits
    * the QUERIES' recall, this audits the INDEX's shape, and together
    * they say whether bad recall is a codebook problem (rebalance/
    * retrain — k-means via [[kmeansAuto]]) or a probe problem (raise
    * nprobe). Cells that own zero vectors still appear (the codebook
    * domain is the centroid list, not the assignment's image).
    *
    * Scale posture: rides [[ivfAssigned]] (the hash-aggregable argmax
    * build pass, shared with q44); the profile is ONE K-cell
    * partial-aggregable groupBy over the assignment plus a generated
    * domain anti-fill — the report is codebook-sized. */
  private def q130(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfAssigned(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val domain = Tables.embeddings(spark, dir)
      .select(col("label").cast(LongType).as("cell")).distinct()
    val totals = domain.join(cells, Seq("cell"), "left")
      .na.fill(0L, Seq("n_vectors"))
    val k = totals.agg(count(lit(1)).as("k_cells"),
      sum(col("n_vectors")).as("n_total"))
    totals.crossJoin(broadcast(k))
      .withColumn("share_u",
        floor(lit(1000000.0) * col("n_vectors").cast(DoubleType) /
          col("n_total").cast(DoubleType)).cast("long"))
      .withColumn("load_u",
        floor(lit(1000000.0) * (col("n_vectors") * col("k_cells")).cast(DoubleType) /
          col("n_total").cast(DoubleType)).cast("long"))
      .select(col("cell"), col("n_vectors"), col("share_u"), col("load_u"))
      .orderBy(col("cell"))
  }

  private lazy val q130Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |cells AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell),
       |dom AS (SELECT DISTINCT CAST(label AS BIGINT) AS cell FROM embeddings),
       |filled AS (
       |  SELECT dom.cell, CAST(coalesce(cells.n, 0) AS BIGINT) AS n_vectors
       |  FROM dom LEFT JOIN cells USING (cell)),
       |tot AS (SELECT count(*) AS k_cells,
       |  CAST(sum(n_vectors) AS BIGINT) AS n_total FROM filled)
       |SELECT cell, n_vectors,
       |  CAST(floor(1000000.0 * CAST(n_vectors AS DOUBLE) /
       |    CAST(n_total AS DOUBLE)) AS BIGINT) AS share_u,
       |  CAST(floor(1000000.0 * CAST(n_vectors * k_cells AS DOUBLE) /
       |    CAST(n_total AS DOUBLE)) AS BIGINT) AS load_u
       |FROM filled, tot
       |ORDER BY cell""".stripMargin

  // ---------------------------------------------------------------- q158
  /** PQ COMPRESSION-BUDGET SWEEP — the tuning table an index team
    * reads before committing to a layout: the corpus encoded at
    * M ∈ {2, 4, 8, 16} subspaces (16 codes each → 4·M bits/vector),
    * reporting exact int64 total and per-vector reconstruction SSE —
    * bytes-vs-distortion, the PQ family's analog of q142's banding
    * sweep. Unlike banding, regrouping is NOT free here: each M is a
    * genuine re-encode (the subspace boundaries move), so the sweep is
    * priced openly as one broadcast-codebook encode pass per M and
    * runs as a tuning job, never in the serving path — the production
    * index (q135–q137) stays pinned at [[PqSubspaces]] and is memoized
    * separately. Distortion is monotone non-increasing in M (finer
    * subspaces can only fit better), which `PqSweepSpec` pins along
    * with hand-exact SSE on a planted corpus.
    *
    * Scale posture: per M, the codebook (M·K subvectors) broadcasts
    * and the encode is the stateless hash-aggregable argmin fan-out
    * (q135's shape); the sweep output is |Ms| rows. At 100 TB the
    * sweep runs on a corpus SAMPLE — distortion curves are stable
    * under sampling, the full encode is only paid for the winner. */
  val PqSweepMs: Seq[Int] = Seq(2, 4, 8, 16)

  private def q158(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    PqSweepMs.map { m =>
      val cb = pqSubvectorsM(emb.filter(col("vec_id") < PqCodes), m)
        .select(col("s").as("cs"), col("vec_id").as("code"),
          col("sub").as("csub"), col("sn2").as("cn2"))
      pqSubvectorsM(emb, m).join(broadcast(cb), col("s") === col("cs"))
        .withColumn("d2",
          col("sn2") + col("cn2") - lit(2L) * dotL(col("sub"), col("csub")))
        .groupBy(col("vec_id"), col("s"))
        .agg(graft.functions.ArgMaxAgg.argMin(
          struct(col("d2"), col("code")),
          struct(col("code"), col("d2"))).as("b"))
        .agg(countDistinct(col("vec_id")).as("n_vectors"),
          sum(col("b.d2")).as("sse_total"))
        .select(lit(m.toLong).as("m_subspaces"),
          lit(4L * m).as("bits_per_vec"),
          col("n_vectors"), col("sse_total"),
          expr("sse_total div n_vectors").as("sse_per_vec"))
    }.reduce(_ unionByName _).orderBy(col("m_subspaces"))
  }

  private val q158Sql = {
    val legs = PqSweepMs.map { m =>
      val subDim = Dim / m
      s"""ss_$m AS (SELECT unnest(range(0, $m)) AS s),
         |vsub_$m AS (
         |  SELECT vec_id, s,
         |    list_slice(sv, s * $subDim + 1, s * $subDim + $subDim) AS sub
         |  FROM emb0 CROSS JOIN ss_$m),
         |cb_$m AS (
         |  SELECT s, vec_id AS code,
         |    list_slice(sv, s * $subDim + 1, s * $subDim + $subDim) AS csub
         |  FROM emb0 CROSS JOIN ss_$m WHERE vec_id < $PqCodes),
         |d_$m AS (
         |  SELECT v.vec_id, v.s, c.code,
         |    CAST(list_sum(list_transform(range(1, ${subDim + 1}), i ->
         |      (v.sub[i] - c.csub[i]) * (v.sub[i] - c.csub[i]))) AS BIGINT)
         |      AS d2
         |  FROM vsub_$m v JOIN cb_$m c ON v.s = c.s),
         |best_$m AS (
         |  SELECT vec_id, s, d2,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code)
         |      AS rn
         |  FROM d_$m),
         |leg_$m AS (
         |  SELECT CAST($m AS BIGINT) AS m_subspaces,
         |    CAST(${4 * m} AS BIGINT) AS bits_per_vec,
         |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
         |    CAST(sum(d2) AS BIGINT) AS sse_total,
         |    CAST(sum(d2) AS BIGINT) // CAST(count(DISTINCT vec_id) AS BIGINT)
         |      AS sse_per_vec
         |  FROM best_$m WHERE rn = 1)""".stripMargin
    }
    s"""WITH emb0 AS (
       |  SELECT vec_id, ${scaledVecSql("embedding")} AS sv FROM embeddings),
       |${legs.mkString(",\n")}
       |SELECT * FROM (
       |  ${PqSweepMs.map(m => s"SELECT * FROM leg_$m").mkString(" UNION ALL ")})
       |ORDER BY m_subspaces""".stripMargin
  }

  // ---------------------------------------------------------------- q166
  /** IVF NPROBE SWEEP — the serving-knob tuning table that completes
    * the sweep discipline across the index family (banding q142, PQ
    * subspaces q158, decontamination cutoff q162, vocabulary head
    * q163): for each candidate nprobe ∈ {1, 2, 4, 8}, the exact
    * recall the production IVF index (q44's cells) would achieve
    * against the brute-force top-5 truth (q38), PRICED in candidate
    * rows scanned — the recall-vs-cost curve an ANN deployment reads
    * before fixing its probe budget.
    *
    * The whole sweep is ONE pass, not |nprobes| re-runs: each query
    * ranks the 10 cells once (prank), and a true neighbor is
    * reachable at nprobe = p iff its cell's prank ≤ p. Reachable IS
    * returned: the true top-5 carry the 5 highest cosines globally,
    * so no candidate can outrank them inside any probed subset — the
    * prefix predicate is exactly `ivfAnn(nprobe = p)`'s recall,
    * which `IvfSweepSpec` pins by actually running the serving path
    * at p = 2.
    *
    * Scale posture: truth is queries-sized by construction (recall is
    * audited on a query SAMPLE at 100 TB — q113's posture, and the
    * brute-force leg is the audit's cost, not the index's); the cell
    * ranking is |queries| × 10 broadcast rows; cell sizes are one
    * partial-aggregable groupBy of the assigned table; the sweep
    * itself crosses two tiny frames with 4 broadcast probe rows. */
  private def q166(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val cent = labelCentroids(spark, dir)
    val assigned = ivfAssigned(spark, dir)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("c_label"))
    val qranks = emb.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2")))
      .withColumn("prank", row_number().over(wProbe).cast("long"))
      .select(col("vec_id").as("q_id"), col("c_label").as("cell"),
        col("prank"))
    val truthRanks = q38(spark, dir).filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("t_vid"))
      .join(assigned.select(col("vec_id").as("t_vid"), col("cell")), "t_vid")
      .join(qranks, Seq("q_id", "cell"))
      .select(col("q_id"), col("prank"))
    val sizes = assigned.filter(col("vec_id") >= NQueries)
      .groupBy(col("cell")).agg(count(lit(1)).as("csize"))
    val probeCost = qranks.join(sizes, "cell")
    val probes = spark.range(1)
      .select(explode(array(lit(1L), lit(2L), lit(4L), lit(8L)))
        .as("nprobe"))
    val hits = broadcast(probes).crossJoin(truthRanks)
      .groupBy(col("nprobe"))
      .agg(sum(when(col("prank") <= col("nprobe"), 1L).otherwise(0L))
        .as("n_hits"),
        count(lit(1)).as("n_truth"))
    val costs = broadcast(probes.withColumnRenamed("nprobe", "c_nprobe"))
      .crossJoin(probeCost)
      .groupBy(col("c_nprobe"))
      .agg(sum(when(col("prank") <= col("c_nprobe"), col("csize"))
        .otherwise(0L)).as("cand_rows"))
    hits.join(costs, col("nprobe") === col("c_nprobe"))
      .select(col("nprobe"), col("n_hits"), col("n_truth"),
        expr("(1000000 * n_hits) div n_truth").as("recall_u"),
        col("cand_rows"))
      .orderBy(col("nprobe"))
  }

  private val q166Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |qr AS (
       |  SELECT q_id, cell, CAST(prank AS BIGINT) AS prank FROM (
       |    SELECT e.vec_id AS q_id, c.c_label AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")} DESC,
       |        c.c_label) AS prank
       |    FROM emb e CROSS JOIN cent2 c
       |    WHERE e.vec_id < $NQueries)),
       |truth AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")} DESC,
       |        c.vec_id) AS rank
       |    FROM emb c CROSS JOIN emb q
       |    WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries)
       |  WHERE rank <= 5),
       |tr AS (
       |  SELECT t.q_id, qr.prank
       |  FROM truth t
       |    JOIN assigned a ON t.vec_id = a.vec_id
       |    JOIN qr ON t.q_id = qr.q_id AND a.cell = qr.cell),
       |sizes AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS csize
       |  FROM assigned WHERE vec_id >= $NQueries GROUP BY 1),
       |cost AS (
       |  SELECT qr.q_id, qr.prank, s.csize
       |  FROM qr JOIN sizes s ON qr.cell = s.cell),
       |np AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
       |hits AS (
       |  SELECT nprobe,
       |    CAST(sum(CASE WHEN prank <= nprobe THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits,
       |    count(*) AS n_truth
       |  FROM np CROSS JOIN tr GROUP BY 1),
       |costs AS (
       |  SELECT nprobe,
       |    CAST(sum(CASE WHEN prank <= nprobe THEN csize ELSE 0 END)
       |      AS BIGINT) AS cand_rows
       |  FROM np CROSS JOIN cost GROUP BY 1)
       |SELECT h.nprobe, n_hits, n_truth,
       |  (1000000 * n_hits) // n_truth AS recall_u, cand_rows
       |FROM hits h JOIN costs c ON h.nprobe = c.nprobe
       |ORDER BY h.nprobe""".stripMargin

  // ---------------------------------------------------------------- q168
  /** RETRIEVAL-QUALITY EVALUATION — the three production retrievers
    * (exact dense q38, sign-LSH q39, IVF q44) scored side by side
    * under label-match relevance (a candidate is relevant iff it
    * shares the query vector's label — the standard proxy when no
    * judgment set ships with the corpus): per retriever, MRR, hit
    * rate and precision@5 in exact micro-units. q113/q166 audit
    * RECALL against the exact top-k — "does the index return what
    * brute force would"; this audits whether what ANY of them return
    * is actually RELEVANT, which is the number a retrieval product
    * reports. Denominators are the full query count, so a query whose
    * LSH bucket comes back empty scores as a miss instead of silently
    * shrinking the average (the honest-denominator rule).
    *
    * All reciprocal ranks are integer-floored (`1000000 div rank`)
    * before averaging — no float summation order anywhere, so both
    * engines agree bit-for-bit.
    *
    * Scale posture: each leg IS the production query (queries-sized
    * outputs by construction; the exact leg is the evaluation's cost,
    * q113's sample-audit posture); judging joins ≤ 3·k·|queries| rows
    * against a broadcast label table, and the report is 3 rows. */
  private def q168(spark: SparkSession, dir: String): DataFrame = {
    val labels = scaledEmb(spark, dir).select(col("vec_id"), col("label"))
    val qLab = labels.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val cLab = labels.select(col("vec_id").as("c_vid"),
      col("label").as("c_label"))
    def leg(name: String, topk: DataFrame): DataFrame =
      topk.select(lit(name).as("retriever"), col("q_id"), col("vec_id"),
        col("rank").cast("long").as("rank"))
    val top = leg("dense", q38(spark, dir).filter(col("rank") <= 5))
      .unionByName(leg("lsh", q39(spark, dir)))
      .unionByName(leg("ivf", ivfAnn(spark, dir)))
    val perQ = top
      .join(broadcast(qLab), "q_id")
      .join(broadcast(cLab), col("vec_id") === col("c_vid"))
      .withColumn("rel",
        when(col("c_label") === col("q_label"), 1L).otherwise(0L))
      .groupBy(col("retriever"), col("q_id"))
      .agg(min(when(col("rel") === 1L, col("rank"))).as("first_rel"),
        sum(col("rel")).as("nrel"))
    perQ.groupBy(col("retriever"))
      .agg(count(lit(1)).as("n_answered"),
        sum(coalesce(expr("1000000 div first_rel"), lit(0L))).as("rr_sum"),
        sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(col("nrel")).as("rel_total"))
      .select(col("retriever"),
        lit(NQueries.toLong).as("n_queries"),
        col("n_answered"),
        expr(s"rr_sum div $NQueries").as("mrr_u"),
        expr(s"(1000000 * n_hit) div $NQueries").as("hit_rate_u"),
        expr(s"(1000000 * rel_total) div (5 * $NQueries)").as("prec5_u"))
      .orderBy(col("retriever"))
  }

  private lazy val q168Sql =
    s"""WITH d_dense AS (
       |  SELECT q_id, vec_id, rank FROM ($q38Sql) WHERE rank <= 5),
       |d_lsh AS (SELECT q_id, vec_id, rank FROM ($q39Sql)),
       |d_ivf AS (SELECT q_id, vec_id, rank FROM ($q44Sql)),
       |top AS (
       |  SELECT 'dense' AS retriever, q_id, vec_id,
       |    CAST(rank AS BIGINT) AS rank FROM d_dense
       |  UNION ALL
       |  SELECT 'lsh', q_id, vec_id, CAST(rank AS BIGINT) FROM d_lsh
       |  UNION ALL
       |  SELECT 'ivf', q_id, vec_id, CAST(rank AS BIGINT) FROM d_ivf),
       |lab AS (SELECT vec_id, label FROM ($scaledEmbSql)),
       |judged AS (
       |  SELECT t.retriever, t.q_id, t.rank,
       |    CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel
       |  FROM top t
       |    JOIN lab q ON t.q_id = q.vec_id
       |    JOIN lab c ON t.vec_id = c.vec_id),
       |perq AS (
       |  SELECT retriever, q_id,
       |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
       |    CAST(sum(rel) AS BIGINT) AS nrel
       |  FROM judged GROUP BY 1, 2)
       |SELECT retriever,
       |  CAST($NQueries AS BIGINT) AS n_queries,
       |  count(*) AS n_answered,
       |  CAST(sum(coalesce(1000000 // first_rel, 0)) AS BIGINT)
       |    // $NQueries AS mrr_u,
       |  (1000000 * CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0
       |    END) AS BIGINT)) // $NQueries AS hit_rate_u,
       |  (1000000 * CAST(sum(nrel) AS BIGINT)) // (5 * $NQueries)
       |    AS prec5_u
       |FROM perq
       |GROUP BY retriever
       |ORDER BY retriever""".stripMargin

  // ---------------------------------------------------------------- q169
  /** CENTROID LABEL-RECOVERY AUDIT — the supervised evaluation of the
    * nearest-centroid family the engine now TRAINS
    * ([[graft.pipeline.CentroidModel]], the M2/M4 closure): assign
    * every vector to its nearest per-label centroid — the literal q44
    * assignment code path ([[ivfAssignOver]]) over the label codebook,
    * hard-pinned ([[labelAssigned]]: under a trained codebook, cells
    * are cluster ids from a different id space and `cell == label`
    * would be meaningless) — and score against the true labels. Per label:
    * corpus support, correctly recovered count, exact recovery
    * micro-rate, and the DOMINANT predicted cell with its mass (where
    * a label's vectors collapse to when recovery is poor). A label
    * whose vectors scatter to other cells is a class whose centroid
    * the embedding geometry cannot carry — the number to read before
    * trusting q44's per-label cells or serving a centroid classifier
    * on this corpus; composes with q41 (cohesion says TIGHT, this
    * says SEPARABLE — a label can be both cohesive and absorbed).
    *
    * Determinism: counts exact int64; the rate integer-floored
    * (`div`); the dominant cell is the hash-aggregable argmax with
    * ties to the LOWER cell id (`graft_argmax`, q44's tie rule —
    * exercised for real when two labels carry identical vector
    * multisets, the planted spec case).
    *
    * Scale posture: rides [[labelAssigned]] (codebook broadcast, one
    * ObjectHashAggregate argmax — never a corpus window); the
    * confusion aggregate is partial-aggregable over ≤ labels² cells
    * and the per-label re-aggregate is labels-sized. */
  /** The classifier-audit family's assignment: ALWAYS the per-label
    * codebook, regardless of `spark.graft.ivf.codebook` — these audits
    * evaluate the LABEL-centroid classifier, where `cell == label` is
    * the definition of a correct prediction. Under the trained
    * codebook, cells are kmeans cluster ids from a different id space
    * entirely; comparing them against labels would produce
    * plausible-looking but meaningless recovery rates (that index's
    * health audit is q130, which is id-space-agnostic by design). */
  private def labelAssigned(spark: SparkSession, dir: String): DataFrame =
    // r17: memoized per (session, dir) — six audit queries (q169/q170
    // family, q186 kappa, q209, q214, q226) re-derived the corpus×k
    // fan-out + argmax per consumer (and q186 alone re-ran it three
    // times through its three cells re-aggregations: MetricsProbe
    // measured ~6 CPU-s per copy at sf0.1). At warehouse scale the
    // assignment table is materialized once next to the index, not
    // re-assigned per audit — the centroidMargins/sessionized posture
    // applied to the assignment itself. [[ivfAssigned]] returns this
    // frame in label-codebook mode: same frame, one build.
    Features.cachedFrame(spark, dir, "ivfAssigned#label") {
      val emb = scaledEmb(spark, dir)
      ivfAssignOver(emb, labelCentroids(spark, dir))
    }

  private def q169(spark: SparkSession, dir: String): DataFrame = {
    val m = labelAssigned(spark, dir)
      .groupBy(col("label"), col("cell"))
      .agg(count(lit(1)).as("n"))
    m.groupBy(col("label"))
      .agg(sum(col("n")).as("n_vecs"),
        sum(when(col("cell") === col("label"), col("n"))
          .otherwise(lit(0L))).as("n_correct"),
        graft.functions.ArgMaxAgg.argMax(
          struct(col("n"), negate(col("cell"))),
          struct(col("cell"), col("n"))).as("t"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        expr("(1000000 * n_correct) div n_vecs").as("recovery_u"),
        col("t.cell").as("top_cell"), col("t.n").as("top_cell_n"))
      .orderBy(col("label"))
  }

  private lazy val q169Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |m AS (
       |  SELECT label, cell, count(*) AS n FROM assigned GROUP BY 1, 2),
       |topc AS (
       |  SELECT label, cell AS top_cell, n AS top_cell_n FROM (
       |    SELECT label, cell, n,
       |      row_number() OVER (PARTITION BY label
       |        ORDER BY n DESC, cell) AS rn
       |    FROM m) WHERE rn = 1)
       |SELECT p.label, p.n_vecs, p.n_correct,
       |  CAST((1000000 * p.n_correct) // p.n_vecs AS BIGINT) AS recovery_u,
       |  t.top_cell, t.top_cell_n
       |FROM (
       |  SELECT label, CAST(sum(n) AS BIGINT) AS n_vecs,
       |    CAST(sum(CASE WHEN cell = label THEN n ELSE 0 END) AS BIGINT)
       |      AS n_correct
       |  FROM m GROUP BY 1) p
       |JOIN topc t ON p.label = t.label
       |ORDER BY p.label""".stripMargin

  // ---------------------------------------------------------------- q170
  /** DECISION-MARGIN AUDIT — the boundary-sharpness complement of q169:
    * q169 says WHERE each label's vectors land, this says by HOW MUCH.
    * Per vector, the gap between its best and second-best centroid
    * cosines (micro-floored ints, so the gap is exact and tie-safe —
    * it depends only on the two cos_u values, never on which centroid
    * wins a tie); per TRUE label, the support, the minimum margin (the
    * closest-to-the-boundary vector — the one a centroid nudge flips
    * first) and the integer-floored mean margin. A label with high
    * q169 recovery but near-zero min margin is one retraining or one
    * drifted feed away from flipping (q100's drift monitor says the
    * centroid moved; this says how much movement the corpus can
    * absorb). Labels with IDENTICAL vector multisets (q169's planted
    * absorption case) read margin exactly 0 — equal centroids make
    * every assignment a knife-edge.
    *
    * Scale posture: the k-row centroid codebook broadcasts into q44's
    * fan-out; the per-vector top-2 collapses through the rank-pruned
    * [[graft.functions.TopKAgg]] bounded-heap aggregate
    * (ObjectHashAggregate, map-side combine — k=2 longs per vector
    * cross the shuffle, never a window over the corpus fan-out); the
    * per-label re-aggregate is labels-sized. */
  /** The per-vector top-2 margin frame `(vec_id, label, margin_u)`
    * shared by q170/q171/q172 — memoized per (session, dir) so the
    * corpus×k fan-out and heap aggregate run ONCE however many of the
    * family a session serves. Label centroids hard-pinned
    * ([[labelAssigned]]'s rationale: the margin is a property of the
    * label-centroid classifier). */
  private[graft] def centroidMargins(spark: SparkSession,
      dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "centroidMargins") {
      val emb = scaledEmb(spark, dir)
      val cent = labelCentroids(spark, dir)
      emb.crossJoin(broadcast(cent))
        .withColumn("cos_u",
          floor(cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2"))
            * 1000000.0).cast(LongType))
        .groupBy(col("vec_id"), col("label"))
        .agg(graft.functions.TopKAgg.topK(
          struct(col("cos_u"), negate(col("c_label"))), col("cos_u"), 2)
          .as("top"))
        .select(col("vec_id"), col("label"),
          (element_at(col("top"), 1) - element_at(col("top"), 2))
            .as("margin_u"))
    }

  private def q170(spark: SparkSession, dir: String): DataFrame = {
    centroidMargins(spark, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("margin_u")).as("margin_min_u"),
        sum(col("margin_u")).as("margin_sum_u"))
      .select(col("label"), col("n_vecs"), col("margin_min_u"),
        expr("margin_sum_u div n_vecs").as("margin_avg_u"),
        col("margin_sum_u"))
      .orderBy(col("label"))
  }

  private lazy val q170Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |scored2 AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_u
       |  FROM emb e CROSS JOIN cent2 c),
       |r2 AS (
       |  SELECT vec_id, label, cos_u,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_u DESC, c_label) AS rn
       |  FROM scored2),
       |marg AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN rn = 1 THEN cos_u END) -
       |      max(CASE WHEN rn = 2 THEN cos_u END) AS margin_u
       |  FROM r2 WHERE rn <= 2 GROUP BY 1, 2)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(min(margin_u) AS BIGINT) AS margin_min_u,
       |  CAST(CAST(sum(margin_u) AS BIGINT) // count(*) AS BIGINT)
       |    AS margin_avg_u,
       |  CAST(sum(margin_u) AS BIGINT) AS margin_sum_u
       |FROM marg GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q209
  /** HOLDOUT HEAD SCORECARD — the generalization evaluation of the
    * trained nearest-centroid head, the classifier twin of q168's
    * retrieval scorecard (round-12 verdict task 6): q169/q170 score
    * the head on the vectors it was FIT on (recovery + in-sample
    * margins); this holds out every odd vec_id, trains the centroid
    * codebook on the even half only, and scores the held-out half —
    * per true label: test support, correct top-1 predictions, exact
    * micro accuracy, and the min/mean decision margin ON UNSEEN
    * vectors. In-sample recovery (q169) far above holdout accuracy is
    * the overfit read; a holdout min-margin near 0 prices how close
    * the deployed boundary sits to live traffic. `Train --eval` ships
    * the same scorecard shape for the image heads (centroid AND
    * logistic over decoded luminance histograms — `TrainEvalSpec`);
    * this query is the oracle-checkable twin on the embeddings
    * corpus, where the centroid fit is SQL-expressible.
    *
    * Determinism: the split is vec_id parity (deterministic, id-space
    * uniform); centroid fit = exact int64 component sums (cosine is
    * scale-invariant, so sums serve as means); predictions and
    * margins ride the micro-floored cosine with q169/q44's tie rule
    * (lower c_label wins); rates/averages integer-floored.
    *
    * Scale posture: the trained codebook is labels-sized and
    * broadcasts into the test fan-out; the per-vector top-1/top-2
    * collapses through ObjectHashAggregate (argmax + bounded-heap
    * TopK, map-side combine — never a corpus window); the scorecard
    * re-aggregate is labels-sized. */
  private def q209(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val emb = scaledEmb(spark, dir)
    val cent = centroids(emb.filter(col("vec_id") % 2 === 0))
    val per = emb.filter(col("vec_id") % 2 === 1)
      .crossJoin(broadcast(cent))
      .withColumn("cos_u",
        floor(cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2"))
          * 1000000.0).cast(LongType))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(
          struct(col("cos_u"), negate(col("c_label"))),
          col("c_label")).as("pred"),
        graft.functions.TopKAgg.topK(
          struct(col("cos_u"), negate(col("c_label"))), col("cos_u"), 2)
          .as("top"))
      .select(col("vec_id"), col("label"), col("pred"),
        // try_element_at: a single-class train half yields a 1-element
        // heap; the margin is then NULL in BOTH engines (DuckDB's
        // CASE rn=2 aggregate is NULL there), never an index error
        expr("try_element_at(top, 1) - try_element_at(top, 2)")
          .as("margin_u"))
    per.groupBy(col("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        min(col("margin_u")).as("margin_min_u"),
        sum(col("margin_u")).as("margin_sum_u"))
      .select(col("label"), col("n_test"), col("n_correct"),
        expr("(1000000 * n_correct) div n_test").as("acc_u"),
        col("margin_min_u"),
        expr("margin_sum_u div n_test").as("margin_avg_u"))
      .orderBy(col("label"))
  }

  private lazy val q209Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |tpos AS (
       |  SELECT label, unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM emb WHERE vec_id % 2 = 0),
       |tsum AS (
       |  SELECT label AS c_label, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM tpos GROUP BY 1, 2),
       |tcent AS (
       |  SELECT c_label, list(s ORDER BY p0) AS cs FROM tsum GROUP BY 1),
       |tcent2 AS (
       |  SELECT c_label, cs, ${dotLSql("cs", "cs")} AS cn2 FROM tcent),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_u
       |  FROM emb e CROSS JOIN tcent2 c WHERE e.vec_id % 2 = 1),
       |r2 AS (
       |  SELECT vec_id, label, c_label, cos_u,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_u DESC, c_label) AS rn
       |  FROM scored),
       |per AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN rn = 1 THEN c_label END) AS pred,
       |    max(CASE WHEN rn = 1 THEN cos_u END) -
       |      max(CASE WHEN rn = 2 THEN cos_u END) AS margin_u
       |  FROM r2 WHERE rn <= 2 GROUP BY 1, 2)
       |SELECT label, count(*) AS n_test,
       |  CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST((1000000 * CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS BIGINT) AS acc_u,
       |  CAST(min(margin_u) AS BIGINT) AS margin_min_u,
       |  CAST(CAST(sum(margin_u) AS BIGINT) // count(*) AS BIGINT)
       |    AS margin_avg_u
       |FROM per GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q213
  /** CENTROID SEPARATION MATRIX — the exact pairwise cosine between
    * every two label centroids: q41 reports how TIGHT each label is
    * around its centroid, q169/q209 how often vectors land on the
    * right one; this reports how CLOSE the centroids themselves sit —
    * the geometry that decides whether a nearest-centroid head can
    * work at all (two centroids at cos ≈ 1 make their labels
    * structurally inseparable whatever the cohesion says). Pairs
    * ordered by similarity so the top row IS the most confusable
    * label pair.
    *
    * Determinism: centroids are exact int64 component sums; each pair
    * cosine is one micro-floored double over exact operands.
    *
    * Scale posture: the codebook is labels-sized — the pair frame is
    * ≤ labels²/2 rows off a broadcast self-join; corpus cost is the
    * one shared [[centroids]] aggregate (partial-aggregable). */
  private def q213(spark: SparkSession, dir: String): DataFrame = {
    val cent = labelCentroids(spark, dir)
    val a = cent.select(col("c_label").as("label_a"), col("cs").as("cs_a"),
      col("cn2").as("cn2_a"))
    val b = cent.select(col("c_label").as("label_b"), col("cs").as("cs_b"),
      col("cn2").as("cn2_b"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        floor(cosine(dotL(col("cs_a"), col("cs_b")),
          col("cn2_a"), col("cn2_b")) * 1000000.0).cast(LongType)
          .as("cos_u"))
      .orderBy(col("cos_u").desc, col("label_a"), col("label_b"))
  }

  private lazy val q213Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |pos AS (
       |  SELECT vec_id, label,
       |    unnest(range(1, $Dim + 1)) AS pos, unnest(sv) AS v
       |  FROM emb),
       |cent AS (
       |  SELECT label AS c_label, pos AS c_pos, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |cn2 AS (
       |  SELECT c_label, CAST(sum(s * s) AS BIGINT) AS cn2
       |  FROM cent GROUP BY 1),
       |dots AS (
       |  SELECT x.c_label AS label_a, y.c_label AS label_b,
       |    CAST(sum(x.s * y.s) AS BIGINT) AS dotab
       |  FROM cent x JOIN cent y
       |    ON x.c_pos = y.c_pos AND x.c_label < y.c_label
       |  GROUP BY 1, 2)
       |SELECT label_a, label_b,
       |  CAST(floor(${cosineSql("d.dotab", "a.cn2", "b.cn2")} * 1000000.0)
       |    AS BIGINT) AS cos_u
       |FROM dots d
       |JOIN cn2 a ON d.label_a = a.c_label
       |JOIN cn2 b ON d.label_b = b.c_label
       |ORDER BY cos_u DESC, label_a, label_b""".stripMargin

  // ---------------------------------------------------------------- q214
  /** CLUSTER-HEALTH AUDIT (cohesion vs separation) — the
    * Davies–Bouldin-style per-label read, in the exact-integer house
    * style: each label's mean cosine to its OWN centroid (q41's
    * cohesion) next to its similarity to the NEAREST OTHER centroid
    * (q213's worst pair, per label) and the gap between them. A label
    * is healthy when members sit closer to their centroid than the
    * nearest rival centroid does (health_u > 0); health_u ≤ 0 marks a
    * label whose own spread overlaps a rival — the class the holdout
    * scorecard (q209) will show bleeding, localized to WHICH rival.
    *
    * Determinism: cohesion the integer-floored mean of micro-floored
    * member cosines; the nearest rival via the hash-aggregable
    * `graft_argmax` with ties to the LOWER rival label.
    *
    * Scale posture: one corpus pass for cohesion (centroid broadcast,
    * partial-aggregable mean); the rival scan is the labels² broadcast
    * self-join; the report is labels-sized. */
  private def q214(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val emb = scaledEmb(spark, dir)
    val cent = labelCentroids(spark, dir)
    val coh = emb.join(broadcast(cent), col("label") === col("c_label"))
      .select(col("label"),
        floor(cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2"))
          * 1000000.0).cast(LongType).as("cos_u"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("cos_u")).as("sum_cos_u"))
      .select(col("label"), col("n_vecs"),
        expr("sum_cos_u div n_vecs").as("cohesion_u"))
    val a = cent.select(col("c_label").as("label"), col("cs").as("cs_a"),
      col("cn2").as("cn2_a"))
    val b = cent.select(col("c_label").as("other"), col("cs").as("cs_b"),
      col("cn2").as("cn2_b"))
    val sep = a.join(broadcast(b), col("label") =!= col("other"))
      .select(col("label"), col("other"),
        floor(cosine(dotL(col("cs_a"), col("cs_b")),
          col("cn2_a"), col("cn2_b")) * 1000000.0).cast(LongType)
          .as("cos_u"))
      .groupBy(col("label"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("cos_u"), negate(col("other"))),
        struct(col("other"), col("cos_u"))).as("t"))
      .select(col("label"), col("t.other").as("nearest_label"),
        col("t.cos_u").as("sep_u"))
    coh.join(sep, "label")
      .withColumn("health_u", col("cohesion_u") - col("sep_u"))
      .select(col("label"), col("n_vecs"), col("cohesion_u"),
        col("nearest_label"), col("sep_u"), col("health_u"))
      .orderBy(col("label"))
  }

  private lazy val q214Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |pos AS (
       |  SELECT vec_id, label,
       |    unnest(range(1, $Dim + 1)) AS pos, unnest(sv) AS v
       |  FROM emb),
       |cent AS (
       |  SELECT label AS c_label, pos AS c_pos, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |cn2 AS (
       |  SELECT c_label AS n_label, CAST(sum(s * s) AS BIGINT) AS cn2
       |  FROM cent GROUP BY 1),
       |dots AS (
       |  SELECT vec_id, label, CAST(sum(v * s) AS BIGINT) AS dotc
       |  FROM pos JOIN cent ON label = c_label AND pos = c_pos
       |  GROUP BY 1, 2),
       |coh AS (
       |  SELECT d.label, count(*) AS n_vecs,
       |    CAST(sum(CAST(floor(${cosineSql("d.dotc", "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT)) AS BIGINT) // count(*) AS cohesion_u
       |  FROM dots d
       |  JOIN cn2 c ON d.label = c.n_label
       |  JOIN emb e ON d.vec_id = e.vec_id
       |  GROUP BY 1),
       |pdots AS (
       |  SELECT x.c_label AS label, y.c_label AS other,
       |    CAST(sum(x.s * y.s) AS BIGINT) AS dotab
       |  FROM cent x JOIN cent y
       |    ON x.c_pos = y.c_pos AND x.c_label <> y.c_label
       |  GROUP BY 1, 2),
       |pc AS (
       |  SELECT p.label, p.other,
       |    CAST(floor(${cosineSql("p.dotab", "a.cn2", "b.cn2")} * 1000000.0)
       |      AS BIGINT) AS cos_u
       |  FROM pdots p
       |  JOIN cn2 a ON p.label = a.n_label
       |  JOIN cn2 b ON p.other = b.n_label),
       |sep AS (
       |  SELECT label, other AS nearest_label, cos_u AS sep_u FROM (
       |    SELECT label, other, cos_u,
       |      row_number() OVER (PARTITION BY label
       |        ORDER BY cos_u DESC, other) AS rn
       |    FROM pc) WHERE rn = 1)
       |SELECT c.label, c.n_vecs, c.cohesion_u, s.nearest_label, s.sep_u,
       |  c.cohesion_u - s.sep_u AS health_u
       |FROM coh c JOIN sep s ON c.label = s.label
       |ORDER BY c.label""".stripMargin

  // ---------------------------------------------------------------- q222
  /** NORM ↔ MARGIN RANK CORRELATION — per label, Spearman's ρ between
    * a vector's exact squared norm and its decision margin (q170's
    * top-2 cosine gap): embedding folklore says low-norm vectors are
    * the under-trained/uncertain ones — if that holds on THIS corpus
    * (ρ well above 0), the norm is a free pre-filter for the relabel
    * roster (q172) and a pruning signal cheaper than any margin
    * computation; ρ ≈ 0 kills that shortcut before a pipeline builds
    * on it. q198's deterministic Spearman recipe (arrival-rank ties,
    * DECIMAL cubic denominator) applied to the vector family.
    *
    * Scale posture: rides the session-memoized [[centroidMargins]]
    * frame (built once, shared with q170/q171/q172); the two rank
    * windows partition by LABEL (bounded cardinality — the q125
    * caveat, same documented approx swap); the report is
    * labels-sized. */
  private def q222(spark: SparkSession, dir: String): DataFrame = {
    val base = centroidMargins(spark, dir)
      .join(scaledEmb(spark, dir).select(col("vec_id"), col("n2")), "vec_id")
    val wx = Window.partitionBy(col("label"))
      .orderBy(col("n2"), col("vec_id"))
    val wy = Window.partitionBy(col("label"))
      .orderBy(col("margin_u"), col("vec_id"))
    base
      .withColumn("rx", row_number().over(wx).cast("long"))
      .withColumn("ry", row_number().over(wy).cast("long"))
      .withColumn("d", col("rx") - col("ry"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d") * col("d")).as("sum_d2"))
      .filter(col("n_vecs") >= 2L)
      .withColumn("spearman_u",
        lit(1000000L) -
          expr("""(CAST(6000000 AS DECIMAL(38,0)) *
                  CAST(sum_d2 AS DECIMAL(38,0)))
                 div (CAST(n_vecs AS DECIMAL(38,0)) *
                  (CAST(n_vecs AS DECIMAL(38,0)) *
                   CAST(n_vecs AS DECIMAL(38,0)) - 1))"""))
      .select(col("label"), col("n_vecs"), col("sum_d2"), col("spearman_u"))
      .orderBy(col("spearman_u").desc, col("label"))
  }

  private lazy val q222Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |scored2 AS (
       |  SELECT e.vec_id, e.label, e.n2, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_u
       |  FROM emb e CROSS JOIN cent2 c),
       |r2 AS (
       |  SELECT vec_id, label, n2, cos_u,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_u DESC, c_label) AS rn
       |  FROM scored2),
       |marg AS (
       |  SELECT vec_id, label, max(n2) AS n2,
       |    max(CASE WHEN rn = 1 THEN cos_u END) -
       |      max(CASE WHEN rn = 2 THEN cos_u END) AS margin_u
       |  FROM r2 WHERE rn <= 2 GROUP BY 1, 2),
       |ranked AS (
       |  SELECT label,
       |    CAST(row_number() OVER (PARTITION BY label
       |      ORDER BY n2, vec_id) AS BIGINT) -
       |    CAST(row_number() OVER (PARTITION BY label
       |      ORDER BY margin_u, vec_id) AS BIGINT) AS d
       |  FROM marg),
       |mom AS (
       |  SELECT label, count(*) AS n_vecs,
       |    CAST(sum(d * d) AS BIGINT) AS sum_d2
       |  FROM ranked GROUP BY 1)
       |SELECT label, n_vecs, sum_d2,
       |  1000000 - CAST((6000000 * CAST(sum_d2 AS HUGEINT))
       |    // (CAST(n_vecs AS HUGEINT) *
       |        (CAST(n_vecs AS HUGEINT) * CAST(n_vecs AS HUGEINT) - 1))
       |    AS BIGINT) AS spearman_u
       |FROM mom WHERE n_vecs >= 2
       |ORDER BY spearman_u DESC, label""".stripMargin

  // ---------------------------------------------------------------- q226
  /** QUANTIZATION IMPACT ON THE SERVING HEAD — does int8 storage
    * change what the classifier PREDICTS? The holdout scorecard
    * (q209) re-run with the test vectors round-tripped through q58's
    * scalar quantizer (corpus min/range stats, 8-bit codes, exact
    * int64 reconstruction) against the full-precision trained
    * codebook — the deployment reality where the index stores codes
    * and the model stays float. Per label: holdout support, correct
    * at full precision, correct after quantization, prediction FLIPS
    * (the per-vector disagreement count — accuracy can stay flat
    * while flips churn, which is what an A/B on compressed serving
    * actually feels), and the exact micro accuracy delta. q58 prices
    * reconstruction error in vector space; q136 recall on retrieval;
    * this prices the DECISION impact — the number that approves the
    * 32× memory saving.
    *
    * Determinism: quantize/reconstruct is q58's exact int64 recipe;
    * both assignments ride the micro-floored cosine with q44's tie
    * rule; counts int64, deltas exact.
    *
    * Scale posture: quantizer stats are one 1-row aggregate broadcast;
    * the even-half codebook broadcasts into ONE test fan-out scoring
    * both representations; per-vector argmaxes collapse through one
    * ObjectHashAggregate; the report is labels-sized. */
  private def q226(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val emb = scaledEmb(spark, dir)
    val cent = centroids(emb.filter(col("vec_id") % 2 === 0))
    val statAggs =
      (0 until Dim).map(i => min(element_at(col("sv"), i + 1)).as(s"mn$i")) ++
        (0 until Dim).map(i => max(element_at(col("sv"), i + 1)).as(s"mx$i"))
    val stats = emb.agg(statAggs.head, statAggs.tail: _*)
    val lists = stats.select(
      array((0 until Dim).map(i => col(s"mn$i")): _*).as("mins"),
      array((0 until Dim).map(i => col(s"mx$i") - col(s"mn$i")): _*).as("rngs"))
    val rqExpr = expr(s"""transform(sequence(1, $Dim), i ->
      CASE WHEN element_at(rngs, i) = 0 THEN element_at(mins, i)
      ELSE (((element_at(sv, i) - element_at(mins, i)) * 255
             div element_at(rngs, i)) * element_at(rngs, i)) div 255
           + element_at(mins, i) END)""")
    val test = emb.filter(col("vec_id") % 2 === 1)
      .crossJoin(broadcast(lists))
      .withColumn("rq", rqExpr)
      .withColumn("rn2", dotL(col("rq"), col("rq")))
      .select(col("vec_id"), col("label"), col("sv"), col("n2"),
        col("rq"), col("rn2"))
    val per = test.crossJoin(broadcast(cent))
      .withColumn("cos_f_u",
        floor(cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2"))
          * 1000000.0).cast(LongType))
      .withColumn("cos_q_u",
        floor(cosine(dotL(col("rq"), col("cs")), col("rn2"), col("cn2"))
          * 1000000.0).cast(LongType))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(
          struct(col("cos_f_u"), negate(col("c_label"))),
          col("c_label")).as("pred_f"),
        graft.functions.ArgMaxAgg.argMax(
          struct(col("cos_q_u"), negate(col("c_label"))),
          col("c_label")).as("pred_q"))
    per.groupBy(col("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred_f") === col("label"), 1L).otherwise(0L))
          .as("n_correct_full"),
        sum(when(col("pred_q") === col("label"), 1L).otherwise(0L))
          .as("n_correct_quant"),
        sum(when(col("pred_f") =!= col("pred_q"), 1L).otherwise(0L))
          .as("n_flips"))
      .withColumn("acc_full_u", expr("(1000000 * n_correct_full) div n_test"))
      .withColumn("acc_quant_u",
        expr("(1000000 * n_correct_quant) div n_test"))
      .withColumn("delta_u", col("acc_quant_u") - col("acc_full_u"))
      .orderBy(col("label"))
  }

  private lazy val q226Sql = {
    val mns = (0 until Dim).map(i => s"min(sv[${i + 1}]) AS mn$i").mkString(", ")
    val mxs = (0 until Dim).map(i => s"max(sv[${i + 1}]) AS mx$i").mkString(", ")
    val minList = (0 until Dim).map(i => s"mn$i").mkString("[", ", ", "]")
    val rngList = (0 until Dim).map(i => s"mx$i - mn$i").mkString("[", ", ", "]")
    s"""WITH emb AS ($scaledEmbSql),
       |tpos AS (
       |  SELECT label, unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM emb WHERE vec_id % 2 = 0),
       |tsum AS (
       |  SELECT label AS c_label, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM tpos GROUP BY 1, 2),
       |tcent AS (
       |  SELECT c_label, list(s ORDER BY p0) AS cs FROM tsum GROUP BY 1),
       |tcent2 AS (
       |  SELECT c_label, cs, ${dotLSql("cs", "cs")} AS cn2 FROM tcent),
       |stats AS (SELECT $mns, $mxs FROM emb),
       |lists AS (SELECT $minList AS mins, $rngList AS rngs FROM stats),
       |test AS (
       |  SELECT vec_id, label, sv, n2,
       |    list_transform(range(1, ${Dim + 1}), i ->
       |      CASE WHEN rngs[i] = 0 THEN mins[i]
       |      ELSE (((sv[i] - mins[i]) * 255 // rngs[i]) * rngs[i]) // 255
       |           + mins[i] END) AS rq
       |  FROM emb CROSS JOIN lists WHERE vec_id % 2 = 1),
       |test2 AS (
       |  SELECT *, ${dotLSql("rq", "rq")} AS rn2 FROM test),
       |scored AS (
       |  SELECT t.vec_id, t.label, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("t.sv", "c.cs"), "t.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_f_u,
       |    CAST(floor(${cosineSql(dotLSql("t.rq", "c.cs"), "t.rn2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_q_u
       |  FROM test2 t CROSS JOIN tcent2 c),
       |ranked AS (
       |  SELECT vec_id, label, c_label,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_f_u DESC, c_label) AS rf,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_q_u DESC, c_label) AS rn_q
       |  FROM scored),
       |per AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN rf = 1 THEN c_label END) AS pred_f,
       |    max(CASE WHEN rn_q = 1 THEN c_label END) AS pred_q
       |  FROM ranked GROUP BY 1, 2)
       |SELECT label, count(*) AS n_test,
       |  CAST(sum(CASE WHEN pred_f = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct_full,
       |  CAST(sum(CASE WHEN pred_q = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct_quant,
       |  CAST(sum(CASE WHEN pred_f <> pred_q THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flips,
       |  (1000000 * CAST(sum(CASE WHEN pred_f = label THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS acc_full_u,
       |  (1000000 * CAST(sum(CASE WHEN pred_q = label THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS acc_quant_u,
       |  (1000000 * CAST(sum(CASE WHEN pred_q = label THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) -
       |  (1000000 * CAST(sum(CASE WHEN pred_f = label THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS delta_u
       |FROM per GROUP BY label
       |ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------- q171
  /** MARGIN CALIBRATION — the reliability diagram for the centroid
    * family: q169 reports accuracy, q170 reports margins; this
    * cross-tabs them — per margin band (exact CASE thresholds on the
    * micro-floored top-2 cosine gap: knife-edge 0, <0.01, <0.05,
    * <0.20, ≥0.20), the assigned population and its label-recovery
    * rate. The question it answers is the one a serving threshold
    * needs: IS the margin posterior calibrated — does a wider margin
    * actually buy more accuracy on this corpus, and how much of the
    * population sits in the bands a confidence cutoff would reject?
    * (The standard reliability-diagram read, Guo et al. 2017, in the
    * exact-integer house style — no ECE float soup, the bands ARE the
    * diagram.)
    *
    * Correctness comes from the CANONICAL assignment ([[ivfAssigned]]
    * — the one code path q44/q169 serve), margins from q170's tie-safe
    * top-2 gap; the two frames join on the uniform vec_id. Bands are
    * exact integer CASE cuts (q110's band discipline); rates are
    * integer-floored micro-units.
    *
    * Scale posture: two broadcast-codebook fan-outs collapsed by
    * hash-aggregable argmax/top-k (no corpus window), one
    * vec_id-keyed equi-join (uniform key, co-located under id
    * bucketing), and a ≤5-row band aggregate. */
  private def q171(spark: SparkSession, dir: String): DataFrame = {
    val margins = centroidMargins(spark, dir)
      .select(col("vec_id").as("m_vid"), col("margin_u"))
    val banded = labelAssigned(spark, dir)
      .select(col("vec_id"), col("label"), col("cell"))
      .join(margins, col("vec_id") === col("m_vid"))
      .withColumn("band_id",
        when(col("margin_u") === 0L, 0)
          .when(col("margin_u") < 10000L, 1)
          .when(col("margin_u") < 50000L, 2)
          .when(col("margin_u") < 200000L, 3)
          .otherwise(4))
    banded.groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cell") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("band_id"),
        when(col("band_id") === 0, "0_knife_edge")
          .when(col("band_id") === 1, "1_lt_0.01")
          .when(col("band_id") === 2, "2_lt_0.05")
          .when(col("band_id") === 3, "3_lt_0.20")
          .otherwise("4_ge_0.20").as("band"),
        col("n_vecs"), col("n_correct"),
        expr("(1000000 * n_correct) div n_vecs").as("recovery_u"))
      .orderBy(col("band_id"))
  }

  private lazy val q171Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |scored2 AS (
       |  SELECT e.vec_id, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_u
       |  FROM emb e CROSS JOIN cent2 c),
       |r2 AS (
       |  SELECT vec_id, cos_u,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_u DESC, c_label) AS rn
       |  FROM scored2),
       |marg AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cos_u END) -
       |      max(CASE WHEN rn = 2 THEN cos_u END) AS margin_u
       |  FROM r2 WHERE rn <= 2 GROUP BY 1),
       |banded AS (
       |  SELECT a.label, a.cell,
       |    CASE WHEN m.margin_u = 0 THEN 0
       |      WHEN m.margin_u < 10000 THEN 1
       |      WHEN m.margin_u < 50000 THEN 2
       |      WHEN m.margin_u < 200000 THEN 3
       |      ELSE 4 END AS band_id
       |  FROM assigned a JOIN marg m ON a.vec_id = m.vec_id)
       |SELECT band_id,
       |  CASE band_id WHEN 0 THEN '0_knife_edge' WHEN 1 THEN '1_lt_0.01'
       |    WHEN 2 THEN '2_lt_0.05' WHEN 3 THEN '3_lt_0.20'
       |    ELSE '4_ge_0.20' END AS band,
       |  count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN cell = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST((1000000 * CAST(sum(CASE WHEN cell = label THEN 1 ELSE 0
       |    END) AS BIGINT)) // count(*) AS BIGINT) AS recovery_u
       |FROM banded GROUP BY band_id ORDER BY band_id""".stripMargin

  // ---------------------------------------------------------------- q172
  /** RELABEL ROSTER (uncertainty sampling) — the actionable output of
    * the margin audit: per label, the [[RosterK]] LOWEST-margin
    * vectors, ranked — the exact queue an active-learning loop sends
    * back for human relabeling (classic uncertainty sampling, Settles
    * 2009: the knife-edge examples are where a label dollar buys the
    * most boundary). q127 rosters eval docs by stable hash (coverage);
    * this rosters by DECISION DIFFICULTY — margin ties break on the
    * lower vec_id, so the roster is deterministic and hash-oracleable
    * like every rank table in the suite.
    *
    * Scale posture: q170's margin frame (broadcast-codebook fan-out →
    * rank-pruned top-2 heap aggregate), then the per-label bottom-k
    * collapses through the SAME [[graft.functions.TopKAgg]] bounded
    * heap (k rows per label cross the shuffle, never a corpus
    * window); output is labels×k rows. */
  val RosterK = 3

  private def q172(spark: SparkSession, dir: String): DataFrame = {
    centroidMargins(spark, dir).groupBy(col("label"))
      .agg(graft.functions.TopKAgg.topK(
        struct(negate(col("margin_u")), negate(col("vec_id"))),
        struct(col("vec_id"), col("margin_u")), RosterK).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "row")))
      .select(col("label"), (col("pos") + 1).as("rank"),
        col("row.vec_id").as("vec_id"), col("row.margin_u").as("margin_u"))
      .orderBy(col("label"), col("rank"))
  }

  private lazy val q172Sql =
    s"""WITH emb AS ($scaledEmbSql),
       |pos2 AS (
       |  SELECT label, vec_id,
       |    unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM emb),
       |csum2 AS (
       |  SELECT label AS c_label, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos2 GROUP BY 1, 2),
       |cent AS (SELECT c_label, list(s ORDER BY p0) AS cs
       |         FROM csum2 GROUP BY 1),
       |cent2 AS (SELECT c_label, cs, ${dotLSql("cs", "cs")} AS cn2
       |          FROM cent),
       |scored2 AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) AS cos_u
       |  FROM emb e CROSS JOIN cent2 c),
       |r2 AS (
       |  SELECT vec_id, label, cos_u,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_u DESC, c_label) AS rn
       |  FROM scored2),
       |marg AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN rn = 1 THEN cos_u END) -
       |      max(CASE WHEN rn = 2 THEN cos_u END) AS margin_u
       |  FROM r2 WHERE rn <= 2 GROUP BY 1, 2)
       |SELECT label, rank, vec_id, margin_u FROM (
       |  SELECT label, vec_id, margin_u,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY margin_u, vec_id) AS rank
       |  FROM marg)
       |WHERE rank <= $RosterK
       |ORDER BY label, rank""".stripMargin

  // ---------------------------------------------------------------- q173
  /** PER-SOURCE LABEL-RECOVERY AUDIT — q169 sliced along the corpus's
    * PROVENANCE axis, the classifier-audit family's answer to "which
    * FEED is the model failing on": the same label-centroid assignment
    * ([[labelAssigned]] — hard-pinned to the per-label codebook,
    * q169's rationale) joined to each vector's document source
    * (vec_id↔doc_id, q97's audited relation), then per source: vector
    * support, recovered count, exact recovery micro-rate, how many
    * distinct true labels the source carries, and the WORST-recovered
    * label with its miss rate — the first drill-down a q169 regression
    * needs, because a corpus-level recovery drop is almost always one
    * feed's mix shift (the q126/q117 drift monitors say the feed
    * changed; this says what that change costs the trained model,
    * label by label). A source whose worst label misses hard while the
    * others hold is a targeted-relabel candidate (q172's roster
    * filtered to that source); a source where EVERY label misses is a
    * feature-space mismatch — its vectors don't live where the
    * centroids were trained.
    *
    * Determinism: counts exact int64, rates integer-floored (`div`);
    * the worst label is the hash-aggregable argmax over exact
    * micro-rates with ties to the LOWER label id (q169's tie rule,
    * via `graft_argmax` key `(miss_u, -label)`).
    *
    * Scale posture: the vec_id↔doc_id equi-join is the only
    * corpus-sized operation (both sides shuffle-pruned to two columns;
    * co-locatable under id bucketing — the q126 posture); everything
    * above the (source, label) frame is sources×labels-sized, the
    * per-source re-aggregate sources-sized, and the argmax an
    * ObjectHashAggregate with map-side combine — never a window over
    * the corpus. */
  private def q173(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val sl = labelAssigned(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
      .groupBy(col("source"), col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cell") === col("label"), lit(1L)).otherwise(lit(0L)))
          .as("n_correct"))
      .withColumn("miss_u", expr("(1000000 * (n - n_correct)) div n"))
    sl.groupBy(col("source"))
      .agg(sum(col("n")).as("n_vecs"),
        sum(col("n_correct")).as("n_correct"),
        count(lit(1)).as("n_labels"),
        graft.functions.ArgMaxAgg.argMax(
          struct(col("miss_u"), negate(col("label"))),
          struct(col("label"), col("miss_u"))).as("w"))
      .select(col("source"), col("n_vecs"), col("n_correct"),
        expr("(1000000 * n_correct) div n_vecs").as("recovery_u"),
        col("n_labels"), col("w.label").as("worst_label"),
        col("w.miss_u").as("worst_miss_u"))
      .orderBy(col("source"))
  }

  private lazy val q173Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |j AS (
       |  SELECT d.source, a.label, a.cell
       |  FROM assigned a JOIN documents d ON a.vec_id = d.doc_id),
       |sl AS (
       |  SELECT source, label, count(*) AS n,
       |    CAST(sum(CASE WHEN cell = label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_correct
       |  FROM j GROUP BY 1, 2),
       |slm AS (
       |  SELECT source, label, n, n_correct,
       |    CAST((1000000 * (n - n_correct)) // n AS BIGINT) AS miss_u
       |  FROM sl),
       |worst AS (
       |  SELECT source, label AS worst_label, miss_u AS worst_miss_u
       |  FROM (
       |    SELECT source, label, miss_u,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY miss_u DESC, label) AS rn
       |    FROM slm) WHERE rn = 1)
       |SELECT s.source, s.n_vecs, s.n_correct,
       |  CAST((1000000 * s.n_correct) // s.n_vecs AS BIGINT) AS recovery_u,
       |  s.n_labels, w.worst_label, w.worst_miss_u
       |FROM (
       |  SELECT source, CAST(sum(n) AS BIGINT) AS n_vecs,
       |    CAST(sum(n_correct) AS BIGINT) AS n_correct,
       |    count(*) AS n_labels
       |  FROM sl GROUP BY 1) s
       |JOIN worst w ON s.source = w.source
       |ORDER BY s.source""".stripMargin

  // ---------------------------------------------------------------- q174
  /** PER-SOURCE DRIFT-LOCALIZATION PANEL — the triage table the drift
    * family's scaladocs keep promising, materialized as ONE query:
    * q117 (input length marginal), q126 (label mix) and q100
    * (embedding geometry) each watch one layer of a feed, and their
    * per-source statistics joined side by side LOCALIZE an alarm to
    * feed-vs-representation-vs-decision — the first question an
    * on-call asks. Per source: doc support, the three exact
    * statistics, three alarm flags (PSI ≥ the 0.1-nat investigate
    * band the family documents; mean-direction cosine under
    * [[PanelCosFloorU]] ≈ more than ~18° off the corpus mean), and a
    * one-word diagnosis by explanatory priority: `feed` (the INPUT
    * marginal moved — upstream mix shift explains any downstream
    * movement too), else `representation` (inputs look stable but the
    * geometry moved — the encoder drifted), else `decision` (inputs
    * and geometry stable yet the label mix moved — the boundary is
    * doing something new), else `stable`.
    *
    * Determinism: every number is the parent query's oracled exact
    * int64; the flags are integer threshold compares on those, so no
    * boundary row can flip engines.
    *
    * Scale posture: a COMPOSITION, not new machinery (q157's
    * datasheet discipline) — the three parents' audited plans produce
    * sources-sized frames, and everything here is two |sources|-row
    * equi-joins plus codegen'd CASE columns. */
  val PanelPsiAlarmU = 100000L  // the 0.1-nat investigate band
  val PanelCosFloorU = 950000L  // cos 0.95 ≈ 18° off the corpus mean

  private def q174(spark: SparkSession, dir: String): DataFrame = {
    val len = TextAnalysis.queries("q117_source_psi")(spark, dir)
      .select(col("source"), col("n_docs"),
        col("psi_u").as("len_psi_u"))
    val lab = q126(spark, dir)
      .select(col("source"), col("psi_u").as("label_psi_u"))
    val emb = q100(spark, dir)
      .select(col("source"), col("drift_u").as("emb_cos_u"))
    len.join(lab, Seq("source")).join(emb, Seq("source"))
      .withColumn("len_alarm", col("len_psi_u") >= PanelPsiAlarmU)
      .withColumn("label_alarm", col("label_psi_u") >= PanelPsiAlarmU)
      .withColumn("emb_alarm", col("emb_cos_u") < PanelCosFloorU)
      .withColumn("diagnosis",
        when(col("len_alarm"), lit("feed"))
          .when(col("emb_alarm"), lit("representation"))
          .when(col("label_alarm"), lit("decision"))
          .otherwise(lit("stable")))
      .orderBy(col("source"))
  }

  private lazy val q174Sql =
    s"""WITH lenp AS (
       |  SELECT * FROM (${TextAnalysis.oracles("q117_source_psi")})),
       |labp AS (SELECT * FROM ($q126Sql)),
       |embd AS (SELECT * FROM ($q100Sql)),
       |j AS (
       |  SELECT l.source, l.n_docs, l.psi_u AS len_psi_u,
       |    b.psi_u AS label_psi_u, e.drift_u AS emb_cos_u
       |  FROM lenp l
       |    JOIN labp b ON l.source = b.source
       |    JOIN embd e ON l.source = e.source)
       |SELECT source, n_docs, len_psi_u, label_psi_u, emb_cos_u,
       |  len_psi_u >= $PanelPsiAlarmU AS len_alarm,
       |  label_psi_u >= $PanelPsiAlarmU AS label_alarm,
       |  emb_cos_u < $PanelCosFloorU AS emb_alarm,
       |  CASE WHEN len_psi_u >= $PanelPsiAlarmU THEN 'feed'
       |       WHEN emb_cos_u < $PanelCosFloorU THEN 'representation'
       |       WHEN label_psi_u >= $PanelPsiAlarmU THEN 'decision'
       |       ELSE 'stable' END AS diagnosis
       |FROM j ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q175
  /** CONFIDENT-LEARNING LABEL-NOISE AUDIT — the Cleanlab-style
    * (Northcutt et al., JAIR 2021) confident-joint over the
    * label-centroid classifier the q169 family evaluates: q169 asks
    * "does the geometry recover the labels?", this asks the inverse —
    * "which GIVEN labels does the geometry confidently contradict?",
    * the question that separates a weak classifier from a mislabeled
    * corpus. Per class j, the self-confidence threshold t_j is the
    * floor-mean cosine of class-j-labeled vectors to their OWN
    * centroid; a vector counts into the confident joint at (given,
    * pred) where pred is its highest-cosine centroid AMONG those whose
    * threshold it clears (no centroid cleared → the vector abstains —
    * Cleanlab's guard against counting low-confidence noise as
    * evidence). Per given label: support, confident count, confidently
    * contradicted count (`n_noise`), the noise micro-rate over the
    * FULL support, and the dominant contradiction target (where the
    * suspected-mislabeled mass points; −1/0 when no contradiction) —
    * the per-class relabel-priority table q178 turns into a roster.
    *
    * Determinism: cosines micro-floored then SHIFTED (+10⁶ → every
    * value ≥ 0) so the threshold floor-division agrees between Spark
    * (`div` truncates toward zero) and DuckDB (`//` floors) — they
    * coincide only on nonnegative operands, and a mean of raw cosines
    * can be negative. The shift is mean-equivariant (⌊(Σc+nS)/n⌋ =
    * ⌊Σc/n⌋+S), so the confident test is unchanged. Ties: argmax to
    * the LOWER centroid id (q169's rule); dominant target ties to the
    * lower pred id.
    *
    * Scale posture: ONE corpus×k broadcast fan-out (the q170 family's
    * frame, memoized per session/dir via [[confidentPreds]] — q175 and
    * q178 share it), collapsed by a hash-aggregable argmax
    * (ObjectHashAggregate with map-side combine — k longs per vector
    * cross the shuffle, never a corpus window); thresholds are a
    * labels-sized broadcast; the joint is partial-aggregable over
    * ≤ labels² cells. */
  /** The shifted-cosine fan-out (vec_id, label, c_label, cos_s) and
    * the per-class threshold frame (t_label, t_s) — ONE definition
    * each, read by the batch family ([[confidentPreds]]) and the
    * streaming monitor's frozen artifact
    * ([[graft.streaming.NoiseStreams]] via [[confidentReference]]), so
    * a quantization or threshold change cannot silently diverge the
    * stream from the batch oracle. */
  private def confidentCos(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    emb.crossJoin(broadcast(labelCentroids(spark, dir)))
      .withColumn("cos_s",
        floor(cosine(dotL(col("sv"), col("cs")), col("n2"), col("cn2"))
          * 1000000.0).cast(LongType) + lit(1000000L))
      .select(col("vec_id"), col("label"), col("c_label"), col("cos_s"))
  }

  private def confidentThr(cos: DataFrame): DataFrame =
    cos.filter(col("c_label") === col("label"))
      .groupBy(col("c_label").as("t_label"))
      .agg(expr("sum(cos_s) div count(1)").as("t_s"))

  /** The frozen classifier-trust artifact for streaming: per class
    * (label asc) the exact int64 centroid, its squared norm, and the
    * shifted-micro confident threshold — classes×(dim+2) longs, ships
    * in the closure. Derived through the SAME frames as batch q175. */
  private[graft] def confidentReference(spark: SparkSession,
      dir: String): (Array[Int], Array[Array[Long]], Array[Long], Array[Long]) = {
    val emb = scaledEmb(spark, dir)
    val cent = labelCentroids(spark, dir).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    val thr = confidentThr(confidentCos(spark, dir)).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (cent.map(_._1), cent.map(_._2), cent.map(_._3),
      cent.map(c => thr(c._1)))
  }

  private[graft] def confidentPreds(spark: SparkSession,
      dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "confidentPreds") {
      val cos = confidentCos(spark, dir)
      val thr = confidentThr(cos)
      // One pass over the fan-out: the confident argmax (non-clearing
      // rows demoted to key −1, flagged off via has_conf) and the
      // self-cosine ride the same hash aggregate.
      cos.join(broadcast(thr), col("c_label") === col("t_label"))
        .groupBy(col("vec_id"), col("label"))
        .agg(
          graft.functions.ArgMaxAgg.argMax(
            struct(when(col("cos_s") >= col("t_s"), col("cos_s"))
              .otherwise(lit(-1L)), negate(col("c_label"))),
            struct(col("c_label"), col("cos_s"),
              when(col("cos_s") >= col("t_s"), lit(1L)).otherwise(lit(0L))
                .as("ok"))).as("p"),
          max(when(col("c_label") === col("label"), col("cos_s")))
            .as("self_s"))
        .filter(col("p.ok") === 1L)
        .select(col("vec_id"), col("label"), col("p.c_label").as("pred"),
          col("p.cos_s").as("conf_s"), col("self_s"))
    }

  /** The confident-prediction CTE chain shared by q175/q178 — the SQL
    * twin of [[confidentPreds]]. */
  private val confidentSqlCtes =
    s"""emb AS ($scaledEmbSql),
       |pos AS (
       |  SELECT label, vec_id, sv, n2,
       |    unnest(range(1, $Dim + 1)) AS p0, unnest(sv) AS v
       |  FROM emb),
       |csum AS (
       |  SELECT label AS c_label, p0, CAST(sum(v) AS BIGINT) AS s
       |  FROM pos GROUP BY 1, 2),
       |cent AS (
       |  SELECT c_label, list(s ORDER BY p0) AS cs FROM csum GROUP BY 1),
       |cent2 AS (
       |  SELECT c_label, cs, ${dotLSql("cs", "cs")} AS cn2 FROM cent),
       |cosv AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"), "e.n2", "c.cn2")}
       |      * 1000000.0) AS BIGINT) + 1000000 AS cos_s
       |  FROM emb e CROSS JOIN cent2 c),
       |thr AS (
       |  SELECT c_label AS t_label,
       |    CAST(sum(cos_s) AS BIGINT) // count(*) AS t_s
       |  FROM cosv WHERE c_label = label GROUP BY 1),
       |cp AS (
       |  SELECT p.vec_id, p.label, p.pred, p.conf_s, s.cos_s AS self_s
       |  FROM (
       |    SELECT vec_id, label, c_label AS pred, cos_s AS conf_s FROM (
       |      SELECT v.*, row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.cos_s DESC, v.c_label) AS rn
       |      FROM cosv v JOIN thr t ON v.c_label = t.t_label
       |      WHERE v.cos_s >= t.t_s) WHERE rn = 1) p
       |  JOIN cosv s ON p.vec_id = s.vec_id AND s.c_label = s.label)""".stripMargin

  private def q175(spark: SparkSession, dir: String): DataFrame = {
    val cp = confidentPreds(spark, dir)
    val base = scaledEmb(spark, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"))
    val agg = cp.groupBy(col("label"))
      .agg(count(lit(1)).as("n_confident"),
        sum(when(col("pred") =!= col("label"), 1L).otherwise(0L))
          .as("n_noise"))
    val topc = cp.filter(col("pred") =!= col("label"))
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("n"), negate(col("pred"))),
        struct(col("pred"), col("n"))).as("t"))
      .select(col("label"), col("t.pred").as("tc"), col("t.n").as("tcn"))
    base.join(agg, Seq("label"), "left").join(topc, Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_confident"), lit(0L)).as("n_confident"),
        coalesce(col("n_noise"), lit(0L)).as("n_noise"),
        expr("(1000000 * coalesce(n_noise, 0)) div n_vecs")
          .as("noise_rate_u"),
        coalesce(col("tc"), lit(-1)).as("top_confusion"),
        coalesce(col("tcn"), lit(0L)).as("top_confusion_n"))
      .orderBy(col("label"))
  }

  private val q175Sql =
    s"""WITH $confidentSqlCtes,
       |base AS (SELECT label, count(*) AS n_vecs FROM emb GROUP BY 1),
       |agg AS (
       |  SELECT label, count(*) AS n_confident,
       |    CAST(sum(CASE WHEN pred <> label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_noise
       |  FROM cp GROUP BY 1),
       |topc AS (
       |  SELECT label, pred AS tc, n AS tcn FROM (
       |    SELECT label, pred, n, row_number() OVER (PARTITION BY label
       |      ORDER BY n DESC, pred) AS rn
       |    FROM (SELECT label, pred, count(*) AS n FROM cp
       |          WHERE pred <> label GROUP BY 1, 2)) WHERE rn = 1)
       |SELECT b.label, b.n_vecs,
       |  coalesce(a.n_confident, 0) AS n_confident,
       |  coalesce(a.n_noise, 0) AS n_noise,
       |  (1000000 * coalesce(a.n_noise, 0)) // b.n_vecs AS noise_rate_u,
       |  coalesce(t.tc, -1) AS top_confusion,
       |  coalesce(t.tcn, 0) AS top_confusion_n
       |FROM base b
       |  LEFT JOIN agg a ON b.label = a.label
       |  LEFT JOIN topc t ON b.label = t.label
       |ORDER BY b.label""".stripMargin

  // ---------------------------------------------------------------- q178
  /** LABEL-NOISE ROSTER — q175's actionable artifact: the top-30
    * confidently-contradicted examples, ranked by HOW MUCH more the
    * geometry believes the contradicting class than the given one
    * (`wrong_u` = confident-argmax cosine − own-centroid cosine, exact
    * micro-units; it CAN be negative — the pred centroid clearing its
    * own class threshold while sitting below the self-cosine is
    * Cleanlab's per-class-threshold subtlety, kept visible rather than
    * clamped). The complement of q172's relabel roster: q172 surfaces
    * the UNCERTAIN examples (minimum margin — annotate to sharpen the
    * boundary), this surfaces the confidently-wrong ones (annotate to
    * FIX the label) — an annotation budget wants both ends, never the
    * comfortable middle.
    *
    * Scale posture: reads the memoized [[confidentPreds]] frame (built
    * once for the q175 family), filters to contradictions, and the
    * global top-30 is `orderBy.limit` — TakeOrderedAndProject, a
    * bounded heap per partition + 30-row merge, never a global sort. */
  private def q178(spark: SparkSession, dir: String): DataFrame =
    confidentPreds(spark, dir)
      .filter(col("pred") =!= col("label"))
      .select(col("vec_id"), col("label"), col("pred"),
        (col("conf_s") - lit(1000000L)).as("conf_u"),
        (col("self_s") - lit(1000000L)).as("self_u"),
        (col("conf_s") - col("self_s")).as("wrong_u"))
      .orderBy(col("wrong_u").desc, col("vec_id"))
      .limit(30)

  private val q178Sql =
    s"""WITH $confidentSqlCtes
       |SELECT vec_id, label, pred,
       |  conf_s - 1000000 AS conf_u,
       |  self_s - 1000000 AS self_u,
       |  conf_s - self_s AS wrong_u
       |FROM cp WHERE pred <> label
       |ORDER BY wrong_u DESC, vec_id
       |LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- q181
  /** LABEL-NOISE PROVENANCE AUDIT — q175 sliced by source, the same
    * localization move q173 makes for recovery: the confident joint
    * says WHICH CLASSES the geometry contradicts, this says WHICH FEED
    * shipped the contradicted labels — the question that decides
    * between "relabel a class" (q178's roster) and "quarantine a
    * supplier" (this table). Per source: vector support (embeddings
    * with a document twin — the q97 integrity join), confident count,
    * confidently-contradicted count, the noise micro-rate over the
    * full support, and the worst-hit GIVEN label inside that source
    * with its contradiction count (exact-count argmax, ties to the
    * lower label; −1/0 for a clean source). A clean corpus with one
    * poisoned feed reads zero everywhere except that source's row —
    * spec-planted.
    *
    * Determinism: q175's exact machinery (shifted micro thresholds,
    * lower-label argmax ties) plus exact int64 counts and integer
    * `div` rates.
    *
    * Scale posture: rides the memoized [[confidentPreds]] frame (built
    * once for the q175/q178/q181 family) and [[scaledEmb]]; the only
    * new corpus-sized work is two vec_id = doc_id equi-joins against
    * the narrow (doc_id, source) projection; everything above them is
    * (sources × labels)-sized and partial-aggregable. */
  // Memoized per (session, dir): composed by the q183 trust panel.
  private def q181(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "q181NoiseBySource") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val base = scaledEmb(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_vecs"))
    val cps = confidentPreds(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
    val agg = cps.groupBy(col("source"))
      .agg(count(lit(1)).as("n_confident"),
        sum(when(col("pred") =!= col("label"), 1L).otherwise(0L))
          .as("n_noise"))
    val worst = cps.filter(col("pred") =!= col("label"))
      .groupBy(col("source"), col("label")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("n"), negate(col("label"))),
        struct(col("label"), col("n"))).as("w"))
      .select(col("source"), col("w.label").as("wl"), col("w.n").as("wn"))
    base.join(agg, Seq("source"), "left").join(worst, Seq("source"), "left")
      .select(col("source"), col("n_vecs"),
        coalesce(col("n_confident"), lit(0L)).as("n_confident"),
        coalesce(col("n_noise"), lit(0L)).as("n_noise"),
        expr("(1000000 * coalesce(n_noise, 0)) div n_vecs")
          .as("noise_rate_u"),
        coalesce(col("wl"), lit(-1)).as("worst_label"),
        coalesce(col("wn"), lit(0L)).as("worst_label_n"))
      .orderBy(col("noise_rate_u").desc, col("source"))
  }

  private val q181Sql =
    s"""WITH $confidentSqlCtes,
       |docs AS (SELECT doc_id, source FROM documents),
       |base AS (
       |  SELECT d.source, count(*) AS n_vecs
       |  FROM emb e JOIN docs d ON e.vec_id = d.doc_id GROUP BY 1),
       |cps AS (
       |  SELECT d.source, c.label, c.pred
       |  FROM cp c JOIN docs d ON c.vec_id = d.doc_id),
       |agg AS (
       |  SELECT source, count(*) AS n_confident,
       |    CAST(sum(CASE WHEN pred <> label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_noise
       |  FROM cps GROUP BY 1),
       |worst AS (
       |  SELECT source, label AS wl, n AS wn FROM (
       |    SELECT source, label, n, row_number() OVER (PARTITION BY source
       |      ORDER BY n DESC, label) AS rn
       |    FROM (SELECT source, label, count(*) AS n FROM cps
       |          WHERE pred <> label GROUP BY 1, 2)) WHERE rn = 1)
       |SELECT b.source, b.n_vecs,
       |  coalesce(a.n_confident, 0) AS n_confident,
       |  coalesce(a.n_noise, 0) AS n_noise,
       |  (1000000 * coalesce(a.n_noise, 0)) // b.n_vecs AS noise_rate_u,
       |  coalesce(w.wl, -1) AS worst_label,
       |  coalesce(w.wn, 0) AS worst_label_n
       |FROM base b
       |  LEFT JOIN agg a ON b.source = a.source
       |  LEFT JOIN worst w ON b.source = w.source
       |ORDER BY noise_rate_u DESC, b.source""".stripMargin

  // ---------------------------------------------------------------- q182
  /** CONFIDENCE-DISTRIBUTION DRIFT per source — the decision layer of
    * q174's triage panel at FULL resolution: the panel's decision leg
    * (q126) watches the label MIX, but a model usually degrades before
    * its argmax flips — the top-1 confidence mass slides toward the
    * boundary first. Per source, the exact 1-D Wasserstein distance
    * between its top-confidence distribution (every vector's best
    * centroid cosine, no threshold — the serving-path score) and the
    * corpus mixture, over per-mille confidence buckets: `emd_u` reads
    * as "average confidence displacement" in micro-ECDF × per-mille
    * units, the number that pages when a feed's vectors drift toward
    * the decision boundary while their labels still look healthy.
    * Completes the drift family: q176 is EMD on an INPUT marginal
    * (lengths), this is EMD on the DECISION margin.
    *
    * Determinism: q175's shifted-micro confidences (exact int64),
    * integer per-mille bucketing (`div 1000` on values ≥ 0 — Spark
    * `div` == DuckDB `//` on nonnegatives), then [[Divergence.ecdf]]
    * (q176's kernel) over the bucket domain.
    *
    * Scale posture: the corpus×k fan-out collapses to one max per
    * vector through a partial-aggregable hash aggregate (k longs per
    * vector cross no wire — the max combines map-side); the source
    * join is the narrow (doc_id, source) projection; the ECDF grid is
    * |sources| × ≤2001 buckets (the domain is BOUNDED by construction
    * — per-mille cells of a [−1, 1] cosine — unlike raw micro values,
    * which would grow with corpus cardinality). */
  /** The per-vector top-confidence bucket frame (vec_id, b) — q182's
    * serving-path score, exposed so the streaming monitor's frozen
    * reference marginal ([[graft.streaming.ConfStreams]]) derives
    * through the SAME arithmetic as the batch oracle. Memoized per
    * (session, dir): the corpus×k fan-out + max collapse runs ONCE
    * however many of q182 / q183 / the streaming reference a session
    * serves (the [[confidentPreds]] discipline — without this, q183's
    * composition re-priced the fan-out on top of q182's own run). */
  private[graft] def confidenceBuckets(spark: SparkSession,
      dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "confidenceBuckets") {
      confidentCos(spark, dir)
        .groupBy(col("vec_id")).agg(max(col("cos_s")).as("conf_s"))
        .withColumn("b", expr("conf_s div 1000"))
    }

  // Memoized per (session, dir): composed by the q183 trust panel.
  private def q182(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "q182ConfDrift") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val cells = confidenceBuckets(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
    Divergence.ecdf(cells, "source", "b")
      .select(col("source"), col("n").as("n_vecs"), col("emd_u"))
      .orderBy(col("emd_u").desc, col("source"))
  }

  private val q182Sql =
    s"""WITH $confidentSqlCtes,
       |conf AS (
       |  SELECT vec_id, CAST(max(cos_s) // 1000 AS BIGINT) AS b
       |  FROM cosv GROUP BY 1),
       |sv AS (
       |  SELECT d.source, c.b, count(*) AS cnt
       |  FROM conf c JOIN documents d ON c.vec_id = d.doc_id
       |  GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS stot
       |  FROM sv GROUP BY 1),
       |cv AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS ccnt
       |  FROM sv GROUP BY 1),
       |cc AS (SELECT b, CAST(sum(ccnt) OVER (ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS ccum FROM cv),
       |ctot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS ctot FROM cv),
       |grid AS (
       |  SELECT s.source, s.stot, c.b, c.ccum, t.ctot
       |  FROM stot s CROSS JOIN cc c CROSS JOIN ctot t),
       |ecdf AS (
       |  SELECT g.source, g.stot, g.ctot, g.ccum,
       |    CAST(sum(coalesce(x.cnt, 0)) OVER (PARTITION BY g.source
       |      ORDER BY g.b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS scum,
       |    coalesce(lead(g.b) OVER (PARTITION BY g.source ORDER BY g.b),
       |      g.b) - g.b AS gap
       |  FROM grid g LEFT JOIN sv x ON g.source = x.source AND g.b = x.b)
       |SELECT source, max(stot) AS n_vecs,
       |  CAST(sum(abs((1000000 * scum) // stot - (1000000 * ccum) // ctot)
       |    * gap) AS BIGINT) AS emd_u
       |FROM ecdf GROUP BY source
       |ORDER BY emd_u DESC, source""".stripMargin

  // ---------------------------------------------------------------- q183
  /** CORPUS-TRUST PANEL — q174's triage discipline applied to the
    * audit family this round completes: q176 (input lengths, EMD),
    * q181 (label agreement with the blessed geometry) and q182
    * (decision-margin confidence, EMD) each watch one layer of a
    * source's health, and their per-source statistics joined side by
    * side localize a bad feed to WHAT KIND of bad — per source the
    * document support, all three exact statistics, three integer-
    * threshold alarm flags, and a one-word diagnosis by explanatory
    * priority: `feed` (the input marginal itself moved ≥
    * [[PanelLenEmdAlarmU]] ≈ 50 chars of mean displacement — an
    * upstream mix shift explains every downstream alarm too), else
    * `labels` (inputs look right but ≥ 1% of the feed's labels are
    * confidently contradicted — a labeling regression poisons training
    * directly), else `decision` (inputs and labels look right but the
    * confidence mass slid ≥ [[PanelConfEmdAlarmU]] toward the
    * boundary — the quietest failure, and the one that pages LAST by
    * construction because either upstream cause would explain it),
    * else `stable`.
    *
    * Determinism: every number is the parent query's oracled exact
    * int64; flags are integer threshold compares, so no boundary row
    * can flip engines.
    *
    * Scale posture: a COMPOSITION (q157's discipline) — the three
    * parents' audited plans produce sources-sized frames (and share
    * the memoized fan-out/cos machinery within the session), the panel
    * is two |sources|-row equi-joins plus codegen'd CASE columns. */
  val PanelLenEmdAlarmU = 50000000L  // ≈ 50 chars of mean displacement
  val PanelConfEmdAlarmU = 50000000L // ≈ 50 per-mille cells ≈ 0.05 cosine
  val PanelNoiseAlarmU = 10000L      // ≥ 1% confidently contradicted

  private def q183(spark: SparkSession, dir: String): DataFrame = {
    val len = TextAnalysis.queries("q176_emd_drift")(spark, dir)
      .select(col("source"), col("n_docs"), col("emd_u").as("len_emd_u"))
    val noise = q181(spark, dir)
      .select(col("source"), col("noise_rate_u"))
    val conf = q182(spark, dir)
      .select(col("source"), col("emd_u").as("conf_emd_u"))
    len.join(noise, Seq("source")).join(conf, Seq("source"))
      .withColumn("len_alarm", col("len_emd_u") >= PanelLenEmdAlarmU)
      .withColumn("label_alarm", col("noise_rate_u") >= PanelNoiseAlarmU)
      .withColumn("conf_alarm", col("conf_emd_u") >= PanelConfEmdAlarmU)
      .withColumn("diagnosis",
        when(col("len_alarm"), lit("feed"))
          .when(col("label_alarm"), lit("labels"))
          .when(col("conf_alarm"), lit("decision"))
          .otherwise(lit("stable")))
      .orderBy(col("source"))
  }

  private lazy val q183Sql =
    s"""WITH lenp AS (
       |  SELECT * FROM (${TextAnalysis.oracles("q176_emd_drift")})),
       |noisep AS (SELECT * FROM ($q181Sql)),
       |confp AS (SELECT * FROM ($q182Sql)),
       |j AS (
       |  SELECT l.source, l.n_docs, l.emd_u AS len_emd_u,
       |    n.noise_rate_u, c.emd_u AS conf_emd_u
       |  FROM lenp l
       |    JOIN noisep n ON l.source = n.source
       |    JOIN confp c ON l.source = c.source)
       |SELECT source, n_docs, len_emd_u, noise_rate_u, conf_emd_u,
       |  len_emd_u >= $PanelLenEmdAlarmU AS len_alarm,
       |  noise_rate_u >= $PanelNoiseAlarmU AS label_alarm,
       |  conf_emd_u >= $PanelConfEmdAlarmU AS conf_alarm,
       |  CASE WHEN len_emd_u >= $PanelLenEmdAlarmU THEN 'feed'
       |       WHEN noise_rate_u >= $PanelNoiseAlarmU THEN 'labels'
       |       WHEN conf_emd_u >= $PanelConfEmdAlarmU THEN 'decision'
       |       ELSE 'stable' END AS diagnosis
       |FROM j ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q186
  /** COHEN'S KAPPA PER SOURCE — chance-corrected agreement (Cohen 1960)
    * between each source's GIVEN labels and the centroid classifier's
    * predictions. q173 reports raw per-source recovery; raw agreement
    * flatters a source whose label marginal is skewed (predict the
    * majority class and you "agree" often by luck). Kappa subtracts
    * exactly that luck: per source, p_o = agree/n, p_e = Σ_j g_j·p_j/n²
    * (the agreement two independent raters with these marginals would
    * reach), κ = (p_o − p_e)/(1 − p_e). A source whose recovery is high
    * but kappa is low is a single-class feed the classifier isn't
    * actually reading — the triage distinction between "easy source"
    * and "healthy source".
    *
    * Determinism: counts exact int64; κ is one exact rational —
    * 10⁶·(n·agree − Σg_j·p_j) FLOOR-div (n² − Σg_j·p_j) — with the
    * q100 floor-division spelled identically in both engines (the
    * numerator is negative whenever agreement falls below chance, and
    * truncate-vs-floor diverges exactly there). Degenerate marginals
    * (p_e = 1: single class on both sides) read κ = 0 by convention —
    * no skill beyond chance is demonstrable.
    *
    * Scale posture: rides the memoized [[labelAssigned]] fan-out (built
    * once per session); everything after is aggregation over
    * ≤ |sources|·k² cells — the confusion cube never leaves the
    * executors un-combined. Int64 headroom: n² at ~10⁹ rows per source
    * wants the documented DECIMAL swap (q184's discipline). */
  private def q186(spark: SparkSession, dir: String): DataFrame = {
    def floorDiv(x: Column, y: Column): Column =
      ((x - pmod(x, y)) / y).cast(LongType)
    // r18 (replaces r17's repartition(source)-before-aggregate, the
    // ADVICE single-hot-reducer hazard — a hot source pinned one task
    // at corpus scale): aggregate on the planner's natural (source,g,p)
    // exchange — partial-aggregated map-side, so the one corpus-sized
    // stage shuffles ≤ tasks·|cells| rows spread over the composite
    // key — and CACHE the ≤ sources·g·p result for the three
    // downstream consumers (n/gj/pj re-executed the subtree; exchange
    // reuse was the old trick's only win). Measured at sf0.1, 5-pass
    // isolated: cached-agg 0.69 s vs repartition-first 0.96 s vs
    // (source,g)-first 1.13 s vs agg-then-repartition 1.30 s.
    val cells = Features.cachedFrame(spark, dir, "q186Cells") {
      labelAssigned(spark, dir)
        .select(col("vec_id"), col("label").cast(LongType).as("g"),
          col("cell").cast(LongType).as("p"))
        .join(Tables.documents(spark, dir)
          .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
        .groupBy(col("source"), col("g"), col("p"))
        .agg(count(lit(1)).as("cnt"))
    }
    val n = cells.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_vecs"),
        sum(when(col("g") === col("p"), col("cnt")).otherwise(lit(0L)))
          .as("agree"))
    val gj = cells.groupBy(col("source"), col("g"))
      .agg(sum(col("cnt")).as("gn"))
    val pj = cells.groupBy(col("source"), col("p"))
      .agg(sum(col("cnt")).as("pn"))
    val chance = gj.join(pj,
        gj("source") === pj("source") && gj("g") === pj("p"))
      .groupBy(gj("source").as("source"))
      .agg(sum(col("gn") * col("pn")).as("chance"))
    n.join(chance, Seq("source"), "left").na.fill(0L, Seq("chance"))
      .withColumn("po_u", expr("(1000000 * agree) div n_vecs"))
      .withColumn("pe_u", expr("(1000000 * chance) div (n_vecs * n_vecs)"))
      .withColumn("kappa_u",
        when(col("n_vecs") * col("n_vecs") === col("chance"), lit(0L))
          .otherwise(floorDiv(
            lit(1000000L) * (col("n_vecs") * col("agree") - col("chance")),
            col("n_vecs") * col("n_vecs") - col("chance"))))
      .select(col("source"), col("n_vecs"), col("agree"), col("po_u"),
        col("pe_u"), col("kappa_u"))
      .orderBy(col("kappa_u"), col("source"))
  }

  private lazy val q186Sql = {
    // q100's explicit floor division — spelled the same in both engines
    // so negative below-chance numerators cannot diverge on
    // truncate-vs-floor semantics.
    def fd(x: String, y: String): String =
      s"CAST((($x) - (((($x) % ($y)) + ($y)) % ($y))) / ($y) AS BIGINT)"
    s"""WITH $ivfAssignedSqlCtes,
       |j AS (
       |  SELECT d.source, a.label AS g, a.cell AS p
       |  FROM assigned a JOIN documents d ON a.vec_id = d.doc_id),
       |cells AS (
       |  SELECT source, g, p, count(*) AS cnt FROM j GROUP BY 1, 2, 3),
       |n AS (
       |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_vecs,
       |    CAST(sum(CASE WHEN g = p THEN cnt ELSE 0 END) AS BIGINT)
       |      AS agree
       |  FROM cells GROUP BY 1),
       |gj AS (SELECT source, g, CAST(sum(cnt) AS BIGINT) AS gn
       |  FROM cells GROUP BY 1, 2),
       |pj AS (SELECT source, p, CAST(sum(cnt) AS BIGINT) AS pn
       |  FROM cells GROUP BY 1, 2),
       |ch AS (
       |  SELECT gj.source, CAST(sum(gj.gn * pj.pn) AS BIGINT) AS chance
       |  FROM gj JOIN pj ON gj.source = pj.source AND gj.g = pj.p
       |  GROUP BY 1)
       |SELECT n.source, n.n_vecs, n.agree,
       |  (1000000 * n.agree) // n.n_vecs AS po_u,
       |  (1000000 * coalesce(ch.chance, 0))
       |    // (n.n_vecs * n.n_vecs) AS pe_u,
       |  CASE WHEN n.n_vecs * n.n_vecs = coalesce(ch.chance, 0)
       |    THEN CAST(0 AS BIGINT)
       |    ELSE ${fd("1000000 * (n.n_vecs * n.agree - coalesce(ch.chance, 0))",
                      "n.n_vecs * n.n_vecs - coalesce(ch.chance, 0)")} END
       |    AS kappa_u
       |FROM n LEFT JOIN ch ON n.source = ch.source
       |ORDER BY kappa_u, n.source""".stripMargin
  }

  // ---------------------------------------------------------------- q187
  /** SELECTIVE-PREDICTION RISK–COVERAGE TABLE (Geifman & El-Yaniv,
    * NeurIPS 2017) — the table a serving confidence cutoff is tuned
    * from: at each candidate threshold on the TOP-centroid cosine (the
    * score the decision layer actually serves on — q182's instrument),
    * what fraction of the corpus would the classifier still answer
    * (coverage) and how accurate are those answers (selective
    * accuracy)? q171 reads calibration across MARGIN bands; this reads
    * the absolute-confidence operating curve — the two together are
    * the reliability diagram and the risk–coverage curve, the standard
    * pair. Thresholds are fixed integer per-mille cuts (0.99 / 0.95 /
    * 0.90 / 0.80 / 0.50), so the table is a plan-stable 5-row frame.
    *
    * Determinism: the per-vector confidence bucket is q182's exact
    * shifted per-mille cell; keep/correct counts are int64; rates are
    * floor-div micro-units; an empty threshold band reads 0 coverage
    * and 0 accuracy by the explicit CASE.
    *
    * Scale posture: rides the memoized [[confidenceBuckets]] and
    * [[labelAssigned]] frames (each built once per session); the
    * threshold sweep aggregates the ≤ 2001×2 (bucket, correct) grid —
    * BOUNDED by construction (per-mille cells of a [−1,1] cosine) — so
    * the 5-way fan-out multiplies grid rows, never corpus rows. */
  private def q187(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = confidenceBuckets(spark, dir).select(col("vec_id"), col("b"))
    val cells = labelAssigned(spark, dir)
      .select(col("vec_id"),
        (col("cell") === col("label")).cast(LongType).as("ok"))
      .join(conf, "vec_id")
      .groupBy(col("b"), col("ok")).agg(count(lit(1)).as("cnt"))
    val tot = cells.agg(sum(col("cnt")).as("n_total"))
    val thr = Seq(1990L, 1950L, 1900L, 1800L, 1500L).toDF("tm")
    val kept = cells.join(broadcast(thr), col("b") >= col("tm"))
      .groupBy(col("tm"))
      .agg(sum(col("cnt")).as("n_kept"),
        sum(col("ok") * col("cnt")).as("n_correct"))
    broadcast(thr).join(kept, Seq("tm"), "left")
      .na.fill(0L, Seq("n_kept", "n_correct"))
      .crossJoin(broadcast(tot))
      .select(((col("tm") - 1000L) * 1000L).as("thr_u"),
        col("n_kept"),
        expr("(1000000 * n_kept) div n_total").as("coverage_u"),
        col("n_correct"),
        when(col("n_kept") === 0L, lit(0L))
          .otherwise(expr("(1000000 * n_correct) div n_kept")).as("acc_u"))
      .orderBy(col("thr_u").desc)
  }

  private lazy val q187Sql =
    s"""WITH $ivfAssignedSqlCtes,
       |conf AS (
       |  SELECT e.vec_id,
       |    CAST(max(CAST(floor(${cosineSql(dotLSql("e.sv", "c.cs"),
                "e.n2", "c.cn2")} * 1000000.0) AS BIGINT) + 1000000)
       |      // 1000 AS BIGINT) AS b
       |  FROM emb e CROSS JOIN cent2 c GROUP BY 1),
       |cells AS (
       |  SELECT f.b,
       |    CASE WHEN a.cell = a.label THEN 1 ELSE 0 END AS ok,
       |    count(*) AS cnt
       |  FROM assigned a JOIN conf f ON a.vec_id = f.vec_id
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cells),
       |thr AS (SELECT unnest([1990, 1950, 1900, 1800, 1500]) AS tm),
       |kept AS (
       |  SELECT t.tm, CAST(sum(c.cnt) AS BIGINT) AS n_kept,
       |    CAST(sum(c.ok * c.cnt) AS BIGINT) AS n_correct
       |  FROM thr t JOIN cells c ON c.b >= t.tm GROUP BY 1)
       |SELECT CAST((t.tm - 1000) * 1000 AS BIGINT) AS thr_u,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  (1000000 * coalesce(k.n_kept, 0)) // n.n_total AS coverage_u,
       |  coalesce(k.n_correct, 0) AS n_correct,
       |  CASE WHEN coalesce(k.n_kept, 0) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE (1000000 * k.n_correct) // k.n_kept END AS acc_u
       |FROM thr t LEFT JOIN kept k ON t.tm = k.tm CROSS JOIN tot n
       |ORDER BY thr_u DESC""".stripMargin

  // ---------------------------------------------------------------- q188
  /** SOURCE×LABEL LIFT TABLE (pointwise mutual information per cell) —
    * q126 reports that a source's label MIX diverges (one PSI scalar
    * per source); this says WHICH labels and WHICH WAY: per (source,
    * label) cell, the observed support and the exact-int-derived lift
    * ln(n_ij·n / (n_i·n_j)) in micro-nats — positive where the source
    * over-represents a label vs independence, negative where it
    * starves one — plus the cell's MI contribution (n_ij·lift,
    * summable to the corpus' total source–label mutual information).
    * The per-cell read is what a mixing/rebalance decision (q75/q94)
    * actually needs: "source S is 3× over on label 7" is actionable,
    * "source S has PSI 0.2" is not.
    *
    * Determinism: q101's ln recipe — counts exact int64, the single
    * float step is one division of two exact ≤2⁵³ products and one
    * correctly-rounded ln, micro-floored per cell then summed exactly.
    *
    * Scale posture: one narrow (vec_id, label)⋈(doc_id, source) join
    * (uniform key, co-located under id bucketing), one
    * partial-aggregable cell count, and marginal re-aggregates of the
    * ≤ |sources|·|labels| cell frame — nothing corpus-sized crosses
    * the wire twice. */
  private def q188(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast(LongType).as("lbl"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      .groupBy(col("source"), col("lbl")).agg(count(lit(1)).as("n_ij"))
    val ni = cells.groupBy(col("source")).agg(sum(col("n_ij")).as("n_i"))
    val nj = cells.groupBy(col("lbl")).agg(sum(col("n_ij")).as("n_j"))
    val n = cells.agg(sum(col("n_ij")).as("n"))
    cells.join(broadcast(ni), "source")
      .join(broadcast(nj), "lbl")
      .crossJoin(broadcast(n))
      .withColumn("lift_u",
        floor(lit(1000000.0) *
          log((col("n_ij") * col("n")).cast(DoubleType) /
            (col("n_i") * col("n_j")).cast(DoubleType))).cast(LongType))
      .withColumn("contrib_u",
        floor(lit(1000000.0) * col("n_ij").cast(DoubleType) *
          log((col("n_ij") * col("n")).cast(DoubleType) /
            (col("n_i") * col("n_j")).cast(DoubleType))).cast(LongType))
      .select(col("source"), col("lbl"), col("n_ij"), col("lift_u"),
        col("contrib_u"))
      .orderBy(col("source"), col("lbl"))
  }

  private val q188Sql =
    s"""WITH cells AS (
       |  SELECT d.source, CAST(e.label AS BIGINT) AS lbl,
       |    count(*) AS n_ij
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |  GROUP BY 1, 2),
       |ni AS (SELECT source, CAST(sum(n_ij) AS BIGINT) AS n_i
       |  FROM cells GROUP BY 1),
       |nj AS (SELECT lbl, CAST(sum(n_ij) AS BIGINT) AS n_j
       |  FROM cells GROUP BY 1),
       |n AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM cells)
       |SELECT c.source, c.lbl, c.n_ij,
       |  CAST(floor(1000000.0 * ln(CAST(c.n_ij * n.n AS DOUBLE) /
       |    CAST(i.n_i * j.n_j AS DOUBLE))) AS BIGINT) AS lift_u,
       |  CAST(floor(1000000.0 * CAST(c.n_ij AS DOUBLE) *
       |    ln(CAST(c.n_ij * n.n AS DOUBLE) /
       |      CAST(i.n_i * j.n_j AS DOUBLE))) AS BIGINT) AS contrib_u
       |FROM cells c
       |  JOIN ni i ON c.source = i.source
       |  JOIN nj j ON c.lbl = j.lbl
       |  CROSS JOIN n
       |ORDER BY c.source, c.lbl""".stripMargin

  // ------------------------------------------------------------- MMR
  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity pass a serving layer runs over a retriever's
    * candidate list: greedily pick the candidate maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), so near-duplicate
    * hits (which every dedup audit in this suite shows corpora are full
    * of) stop crowding out the second TOPIC in the top-k. Relevance
    * and redundancy are deliberately the SAME instrument — exact
    * micro-unit cosine from the scaled-embedding frame — so the two
    * MMR terms are commensurable whatever retriever produced the list
    * (rank-fused RRF scores and raw cosines are not). λ is an integer
    * percent; scores compare as exact int64 (λ·rel_u − (100−λ)·sim_u —
    * the /100 normalization cancels in comparisons), ties to the lower
    * doc id, so the re-rank is deterministic. λ=100 degenerates to
    * pure relevance — on the dense retriever that reproduces the
    * retriever's own order exactly (spec-pinned).
    *
    * Vector-coverage contract (same rows, NEVER a silent shrink): the
    * QUERY must carry an embeddings row — a q_id without one fails the
    * job loudly (`raise_error`): there is no relevance instrument at
    * all without the query vector. CANDIDATES may legitimately lack
    * vectors (the fused retriever's BM25 leg serves text-only
    * documents on any corpus where embedding coverage is partial —
    * the production norm); those cannot participate in vector MMR, so
    * they ship AFTER the re-ranked vectorized head, in doc-id order,
    * with NULL rel/score — visibly unranked, not dropped, and the
    * served row set is exactly the retriever's.
    *
    * Scale posture: the greedy loop is inherently sequential but runs
    * per query over the retriever's ALREADY-BOUNDED candidate list
    * (≤ 10 rows here; pool-sized in production) — a typed `mapGroups`
    * over bounded groups, the same discipline as the streaming
    * modules' per-key state. The vector join fans the candidate list
    * (queries × k rows) against the embedding table — candidates-
    * sized, never corpus×corpus; the query-vector side is SEMI-JOINED
    * to the distinct served q_ids (a served-list-sized frame) before
    * the broadcast hint, so the build side is |queries|-sized, never
    * corpus-sized. */
  def mmrRerank(spark: SparkSession, dir: String, served: DataFrame,
      lambdaPct: Int): DataFrame = {
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"mmrRerank lambda must be an integer percent in [0, 100], got $lambdaPct")
    import spark.implicits._
    val idCol = if (served.columns.contains("vec_id")) "vec_id" else "doc_id"
    val emb = scaledEmb(spark, dir)
    // Only the vectors of queries that actually appear in `served`:
    // the distinct-q_id frame is bounded by the served list, so IT is
    // the broadcast-safe side to prune with.
    val qv = emb
      .select(col("vec_id").as("q_id"), col("sv").as("qsv"),
        col("n2").as("qn2"))
      .join(broadcast(served.select(col("q_id")).distinct()), Seq("q_id"))
    def failMissing(side: String, guard: Column, idc: Column): Column =
      when(guard.isNull, raise_error(concat(
        lit(s"mmrRerank: served $side has no embeddings row: id="),
        idc.cast("string")))).otherwise(guard)
    val joined = served.select(col("q_id"), col(idCol).as("id"))
      .join(emb.select(col("vec_id").as("id"), col("sv"), col("n2")),
        Seq("id"), "left")
      .join(broadcast(qv), Seq("q_id"), "left")
      .select(col("q_id"), col("id"),
        failMissing("query", col("qsv"), col("q_id")).as("qsv"),
        col("qn2"), col("sv"), col("n2"))
    val pairs = joined.filter(col("sv").isNotNull)
      .as[(Long, Long, Array[Long], Long, Array[Long], Long)]
    // Candidates without vectors: shipped after the re-ranked head in
    // id order, NULL rel/score (the vector-coverage contract above).
    val wTail = Window.partitionBy(col("q_id")).orderBy(col("doc_id"))
    val headCounts = pairs.toDF().groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_head"))
    val tail = joined.filter(col("sv").isNull)
      .select(col("q_id"), col("id").as("doc_id"))
      .join(broadcast(headCounts), Seq("q_id"), "left")
      .na.fill(0L, Seq("n_head"))
      .select(col("q_id"), col("doc_id"),
        (col("n_head") + row_number().over(wTail)).cast(LongType)
          .as("mmr_rank"),
        lit(null).cast(LongType).as("rel_u"),
        lit(null).cast(LongType).as("mmr_score"))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // The exact Column-side cosine recipe ([[cosine]]) in driver-side
    // form: one multiply, one sqrt, one divide — correctly-rounded
    // IEEE doubles — then the micro-floor.
    def cosU(d: Long, n2a: Long, n2b: Long): Long =
      math.floor(d.toDouble / math.sqrt(n2a.toDouble * n2b.toDouble)
        * 1000000.0).toLong
    pairs.groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val cand = rows.map { case (_, id, qsv, qn2, sv, n2) =>
          (id, cosU(dot(qsv, sv), qn2, n2), sv, n2)
        }.toArray.sortBy { case (id, rel, _, _) => (-rel, id) }
        val n = cand.length
        val selected = Array.ofDim[Int](n)
        val taken = Array.fill(n)(false)
        val out = Array.ofDim[(Long, Long, Long, Long)](n)
        var k = 0
        while (k < n) {
          var bestI = -1; var bestScore = Long.MinValue
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              // TRUE max over the selected set — negative cosines are
              // kept (mutual anti-similarity must raise the MMR score
              // above λ·rel, per the formula); only the EMPTY set
              // reads 0, making the first pick pure relevance.
              var maxSim = if (k == 0) 0L else Long.MinValue
              var j = 0
              while (j < k) {
                val s = cand(selected(j))
                val sim = cosU(dot(cand(i)._3, s._3), cand(i)._4, s._4)
                if (sim > maxSim) maxSim = sim
                j += 1
              }
              val score = lambdaPct.toLong * cand(i)._2 -
                (100L - lambdaPct) * maxSim
              // strict > plus rel-desc/id-asc scan order = ties to the
              // higher-relevance, then lower-id candidate
              if (score > bestScore) { bestScore = score; bestI = i }
            }
            i += 1
          }
          selected(k) = bestI
          taken(bestI) = true
          out(k) = (cand(bestI)._1, (k + 1).toLong, cand(bestI)._2, bestScore)
          k += 1
        }
        out.iterator.map { case (id, r, rel, sc) => (qid, id, r, rel, sc) }
      }
      .toDF("q_id", "doc_id", "mmr_rank", "rel_u", "mmr_score")
      .unionByName(tail)
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  // ---------------------------------------------------------------- q193
  /** HUBNESS AUDIT of the serving ANN graph — the k-occurrence
    * (in-degree) distribution of the sign-LSH kNN graph q39 serves
    * from. In high dimension, nearest-neighbor relations concentrate:
    * a few "hub" vectors appear in a disproportionate share of other
    * points' top-k lists while "antihubs" appear in none
    * (Radovanović et al., JMLR 2010) — hubs dominate every retrieval
    * answer and drag their label into results they don't belong in,
    * antihubs are unreachable however good the index recall is. The
    * in-degree histogram is the canonical measurement: for each vector,
    * its top-[[HubK]] in-bucket neighbors define the graph; the report
    * banded-counts how often each vector is CITED as a neighbor. A
    * healthy graph concentrates near occ = k; a hub-pathological one
    * piles mass at 0 and ≥ 2k simultaneously — the audit to read next
    * to the recall numbers (q113/q166), because recall cannot see
    * reachability skew.
    *
    * Determinism: exact micro-cosine ordering with vec_id tiebreak
    * (q39's rank discipline); in-degrees and band membership are pure
    * int64; never-cited vectors fold occ = 0 via the left join.
    *
    * Scale posture: candidate generation is q39's bucket equi-join
    * (never all-pairs; bits grows with log n — [[LshBitsConf]]); the
    * top-k window partitions by the HIGH-CARDINALITY query id; the
    * in-degree count and band histogram are partial-aggregable; output
    * is ≤ 6 band rows. The vector-count scalar broadcasts. */
  private[graft] val HubK = 5

  /** The SERVED kNN edge table (q_id, q_label, nb): each vector's
    * top-[[HubK]] in-bucket cosine neighbors under q39's exact rank
    * discipline. Session-memoized per (dir, conf state) — q193's hubness
    * bands and q204's reciprocity audit both read it, and the n·k
    * frame is referenced three times inside q204 alone, so the
    * "feature table built once" posture pays within a single query. */
  private def knnEdges(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, s"knnEdges#$HubK") {
      // Zero-norm vectors cannot rank (cosine 0/0); they are excluded
      // from the served graph on BOTH sides — q238's quality audit is
      // where they surface, not as NaN edges here.
      val emb = scaledEmb(spark, dir)
        .filter(col("n2") > 0L)
        .withColumn("bkt", signBucket(col("sv"), lshBits(spark)))
      val qs = emb.select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("sv").as("qv"), col("n2").as("qn2"), col("bkt").as("qbkt"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      emb
        .join(qs, col("bkt") === col("qbkt") && col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosine(dotL(col("sv"), col("qv")), col("n2"), col("qn2")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= HubK)
        .select(col("q_id"), col("q_label"), col("vec_id").as("nb"))
    }

  private def q193(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val occ = knnEdges(spark, dir)
      .groupBy(col("nb").as("vec_id")).agg(count(lit(1)).as("occ"))
    val total = emb.agg(count(lit(1)).as("n_total"))
    emb.select(col("vec_id"))
      .join(occ, Seq("vec_id"), "left").na.fill(0L, Seq("occ"))
      .withColumn("band_lo",
        when(col("occ") === 0L, 0L).when(col("occ") === 1L, 1L)
          .when(col("occ") < 4L, 2L).when(col("occ") < 8L, 4L)
          .when(col("occ") < 16L, 8L).otherwise(16L))
      .groupBy(col("band_lo"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("occ")).as("sum_occ"))
      .crossJoin(broadcast(total))
      .withColumn("share_u", expr("(1000000 * n_vecs) div n_total"))
      .select(col("band_lo"), col("n_vecs"), col("sum_occ"), col("share_u"))
      .orderBy(col("band_lo"))
  }

  private val q193Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |edges AS (
       |  SELECT c.vec_id AS nb, row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")}
       |      DESC, c.vec_id) AS rnk
       |  FROM emb c JOIN emb q
       |    ON c.bkt = q.bkt AND c.vec_id <> q.vec_id
       |    AND c.n2 > 0 AND q.n2 > 0),
       |occ AS (
       |  SELECT nb, count(*) AS occ FROM edges WHERE rnk <= $HubK
       |  GROUP BY 1),
       |alln AS (
       |  SELECT e.vec_id, COALESCE(o.occ, 0) AS occ
       |  FROM emb e LEFT JOIN occ o ON e.vec_id = o.nb),
       |banded AS (
       |  SELECT CAST(CASE WHEN occ = 0 THEN 0 WHEN occ = 1 THEN 1
       |    WHEN occ < 4 THEN 2 WHEN occ < 8 THEN 4
       |    WHEN occ < 16 THEN 8 ELSE 16 END AS BIGINT) AS band_lo, occ
       |  FROM alln)
       |SELECT band_lo, count(*) AS n_vecs,
       |  CAST(sum(occ) AS BIGINT) AS sum_occ,
       |  (1000000 * count(*)) // (SELECT count(*) FROM emb) AS share_u
       |FROM banded GROUP BY 1
       |ORDER BY band_lo""".stripMargin

  // ---------------------------------------------------------------- q196
  /** TWO-NN INTRINSIC DIMENSIONALITY per label (Facco et al.,
    * Scientific Reports 2017) — the embedding-space health number the
    * hubness audit (q193) begs for: hubness severity is DRIVEN by
    * intrinsic dimension, and every ANN index knob (q39 bits, q44/q166
    * nprobe, q135 PQ budget) is really calibrated against ID, not the
    * ambient 64. The Two-NN estimator needs only each point's two
    * nearest-neighbor distances: μ = d₂/d₁ follows Pareto(id) exactly
    * under local uniformity, so id = n / Σ ln μ — no density model, no
    * binning. Per label: a label whose id collapses far below the
    * others is template/near-dup-degenerate (its "cluster" is a few
    * repeated points — cross-checked by n_dup0, the exact-duplicate
    * twins the estimator must exclude since d₁ = 0 breaks μ); a label
    * far above is unclustered noise.
    *
    * Determinism: distances are exact int64 squared euclids
    * (n2a + n2b − 2·dot of the scaled vectors); the neighbor order is
    * (d² asc, vec_id) — no float ties; ln μ = ½·ln(d₂²/d₁²) folds the
    * ½ into the final constant, each term one correctly-rounded ln of
    * an exact-integer ratio, micro-floored; the estimate is one int64
    * floor-div (2·10⁶·10⁶·n — headroom to n ≈ 4.6·10⁶ per label,
    * then the documented DECIMAL swap). Degenerate sums read id_u = 0.
    *
    * Scale posture: shares q193's bucket equi-join candidate
    * generation verbatim (the in-bucket 2-NN is the SERVED 2-NN — the
    * audit measures the geometry the index actually exposes); top-2
    * via the same high-cardinality window; per-label aggregate is
    * |labels|-sized. Vectors with < 2 in-bucket neighbors are counted
    * (`n_sparse`), not silently dropped. */
  private def q196(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
      .withColumn("bkt", signBucket(col("sv"), lshBits(spark)))
    val qs = emb.select(col("vec_id").as("q_id"), col("label").as("q_label"),
      col("sv").as("qv"), col("n2").as("qn2"), col("bkt").as("qbkt"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d2sq"), col("vec_id"))
    val nn2 = emb
      .join(qs, col("bkt") === col("qbkt") && col("vec_id") =!= col("q_id"))
      .withColumn("d2sq",
        col("n2") + col("qn2") - lit(2L) * dotL(col("sv"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .groupBy(col("q_id"), col("q_label"))
      .agg(count(lit(1)).as("n_nb"),
        max(when(col("rnk") === 1, col("d2sq"))).as("d1sq"),
        max(when(col("rnk") === 2, col("d2sq"))).as("d2sq"))
    val pts = emb.select(col("vec_id").as("q_id"), col("label").as("q_label"))
      .join(nn2, Seq("q_id", "q_label"), "left")
    pts
      .withColumn("usable",
        when(col("n_nb") === 2L && col("d1sq") > 0L, 1L).otherwise(0L))
      .withColumn("lnmu_u",
        when(col("usable") === 1L,
          floor(lit(1000000.0) *
            log(col("d2sq").cast(DoubleType) / col("d1sq").cast(DoubleType)))
            .cast(LongType))
          .otherwise(lit(0L)))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("usable")).as("n_used"),
        sum(when(col("n_nb").isNull || col("n_nb") < 2L, 1L).otherwise(0L))
          .as("n_sparse"),
        sum(when(col("n_nb").isNotNull && col("n_nb") === 2L &&
          col("d1sq") === 0L, 1L).otherwise(0L)).as("n_dup0"),
        sum(col("lnmu_u")).as("sum_u"))
      .withColumn("id_u",
        when(col("sum_u") > 0L,
          expr("(2000000000000 * n_used) div sum_u")).otherwise(lit(0L)))
      .select(col("label"), col("n_vecs"), col("n_used"), col("n_sparse"),
        col("n_dup0"), col("id_u"))
      .orderBy(col("label"))
  }

  private val q196Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |edges AS (
       |  SELECT q.vec_id AS q_id, q.label AS q_label,
       |    c.n2 + q.n2 - 2 * ${dotLSql("c.sv", "q.sv")} AS d2sq,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY c.n2 + q.n2 - 2 * ${dotLSql("c.sv", "q.sv")},
       |        c.vec_id) AS rnk
       |  FROM emb c JOIN emb q
       |    ON c.bkt = q.bkt AND c.vec_id <> q.vec_id
       |    AND c.n2 > 0 AND q.n2 > 0),
       |nn2 AS (
       |  SELECT q_id, q_label, count(*) AS n_nb,
       |    max(CASE WHEN rnk = 1 THEN d2sq END) AS d1sq,
       |    max(CASE WHEN rnk = 2 THEN d2sq END) AS d2sq
       |  FROM edges WHERE rnk <= 2 GROUP BY 1, 2),
       |pts AS (
       |  SELECT e.label AS q_label, n.n_nb, n.d1sq, n.d2sq,
       |    CASE WHEN n.n_nb = 2 AND n.d1sq > 0 THEN 1 ELSE 0 END
       |      AS usable,
       |    CASE WHEN n.n_nb = 2 AND n.d1sq > 0
       |      THEN CAST(floor(1000000.0 * ln(CAST(n.d2sq AS DOUBLE) /
       |        CAST(n.d1sq AS DOUBLE))) AS BIGINT)
       |      ELSE 0 END AS lnmu_u
       |  FROM emb e LEFT JOIN nn2 n ON e.vec_id = n.q_id)
       |SELECT q_label AS label, count(*) AS n_vecs,
       |  CAST(sum(usable) AS BIGINT) AS n_used,
       |  CAST(sum(CASE WHEN n_nb IS NULL OR n_nb < 2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_sparse,
       |  CAST(sum(CASE WHEN n_nb = 2 AND d1sq = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup0,
       |  CASE WHEN sum(lnmu_u) > 0
       |    THEN (2000000000000 * CAST(sum(usable) AS BIGINT))
       |      // CAST(sum(lnmu_u) AS BIGINT)
       |    ELSE 0 END AS id_u
       |FROM pts GROUP BY 1
       |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q204
  /** MUTUAL-kNN SYMMETRY AUDIT — the share of the serving graph's
    * edges that are RECIPROCATED (I'm in your top-k AND you're in
    * mine), per label. The third leg of the graph-health kit: q193
    * counts citations (hubness), q196 measures the geometry driving
    * them (intrinsic dimension), this reads the consequence retrieval
    * feels — asymmetric edges are exactly the hub links (everyone
    * cites the hub; the hub cites 5 of its thousand citers), so a low
    * mutual share marks labels whose neighborhoods are hub-mediated
    * rather than genuinely local. Mutual-kNN is also the standard
    * pre-filter for density clustering and the dedup-pair
    * high-precision regime — this audit prices how much of the graph
    * survives that filter BEFORE a pipeline adopts it.
    *
    * Determinism: q193's exact edge set verbatim (micro-cosine order,
    * vec_id ties); reciprocity is an equi-join on the exact (q, nb)
    * pair; counts int64, one micro floor-div.
    *
    * Scale posture: the edge frame is n·k rows (bounded by the top-k,
    * not the bucket); the reciprocity check is a self-equi-join of
    * that frame on the composite key (shuffle of an n·k frame, both
    * sides identically partitioned); the report is |labels| rows. */
  private def q204(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(spark, dir)
    val rev = edges.select(col("nb").as("q_id"), col("q_id").as("nb"))
    edges.join(rev, Seq("q_id", "nb"), "left_semi")
      .groupBy(col("q_label")).agg(count(lit(1)).as("n_mutual"))
      .join(edges.groupBy(col("q_label")).agg(count(lit(1)).as("n_edges")),
        Seq("q_label"), "right")
      .na.fill(0L, Seq("n_mutual"))
      .select(col("q_label").as("label"), col("n_edges"), col("n_mutual"),
        expr("(1000000 * n_mutual) div n_edges").as("mutual_u"))
      .orderBy(col("mutual_u").desc, col("label"))
  }

  private val q204Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |edges AS (
       |  SELECT q_id, q_label, nb FROM (
       |    SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS nb,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")}
       |          DESC, c.vec_id) AS rnk
       |    FROM emb c JOIN emb q
       |      ON c.bkt = q.bkt AND c.vec_id <> q.vec_id
       |      AND c.n2 > 0 AND q.n2 > 0)
       |  WHERE rnk <= $HubK),
       |mut AS (
       |  SELECT e.q_label, count(*) AS n_mutual
       |  FROM edges e
       |  WHERE EXISTS (SELECT 1 FROM edges r
       |    WHERE r.q_id = e.nb AND r.nb = e.q_id)
       |  GROUP BY 1),
       |tot AS (
       |  SELECT q_label, count(*) AS n_edges FROM edges GROUP BY 1)
       |SELECT t.q_label AS label, t.n_edges,
       |  COALESCE(m.n_mutual, 0) AS n_mutual,
       |  (1000000 * COALESCE(m.n_mutual, 0)) // t.n_edges AS mutual_u
       |FROM tot t LEFT JOIN mut m ON t.q_label = m.q_label
       |ORDER BY mutual_u DESC, label""".stripMargin

  // ---------------------------------------------------------------- q238
  /** EMBEDDING-QUALITY AUDIT — the ingest gate for the VECTOR side of
    * the corpus (q62 profiles relational columns; q71 profiles value
    * ranges; this audits vector HEALTH per label): zero vectors (a
    * failed encoder returns all-zeros — they poison cosine math with
    * 0/0), norm range, and norm OUTLIERS in both directions (a norm
    * far below the class mean is a truncated/padded embedding; far
    * above is a scaling bug). The pre-flight check every ANN index
    * build should run: q38/q44's cosine legs silently mis-rank broken
    * vectors; this row says whether any exist.
    *
    * Determinism: norms are the exact int64 scaled squared-norm `n2`
    * ([[Features.scaledEmb]]); outlier tests are CROSS-MULTIPLIED
    * integer compares against the label's n2 sum (2·n2·n < Σ and
    * n2·n > 2·Σ — never a division), widened to DECIMAL(38,0) so a
    * 10⁹-vector label cannot overflow (q198's discipline).
    *
    * Scale posture: two partial-aggregable label-keyed aggregates
    * over the memoized scaled frame, stats broadcast back; report is
    * |labels| rows. */
  private def q238(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir).select(col("label"), col("n2"))
    val stats = emb.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n2")).as("sum_n2"),
        min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val big = (c: Column) => c.cast(org.apache.spark.sql.types
      .DataTypes.createDecimalType(38, 0))
    emb.join(broadcast(stats), "label")
      .withColumn("low",
        when(big(col("n2")) * 2 * col("n_vecs") < big(col("sum_n2")), 1L)
          .otherwise(0L))
      .withColumn("high",
        when(big(col("n2")) * col("n_vecs") > big(col("sum_n2")) * 2, 1L)
          .otherwise(0L))
      .groupBy(col("label"), col("n_vecs"), col("n_zero"),
        col("min_n2"), col("max_n2"), col("sum_n2"))
      .agg(sum(col("low")).as("n_norm_low"),
        sum(col("high")).as("n_norm_high"))
      .withColumn("avg_n2", expr("sum_n2 div n_vecs"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("min_n2"), col("max_n2"), col("avg_n2"),
        col("n_norm_low"), col("n_norm_high"))
      .orderBy(col("label"))
  }

  private val q238Sql =
    s"""WITH n2t AS (
       |  SELECT label, ${dotLSql("sv", "sv")} AS n2
       |  FROM (SELECT label, ${scaledVecSql("embedding")} AS sv
       |        FROM embeddings)),
       |st AS (
       |  SELECT label, count(*) AS n_vecs,
       |    CAST(sum(n2) AS BIGINT) AS sum_n2,
       |    min(n2) AS min_n2, max(n2) AS max_n2,
       |    CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_zero
       |  FROM n2t GROUP BY 1)
       |SELECT n2t.label, max(n_vecs) AS n_vecs, max(n_zero) AS n_zero,
       |  max(min_n2) AS min_n2, max(max_n2) AS max_n2,
       |  max(sum_n2) // max(n_vecs) AS avg_n2,
       |  CAST(sum(CASE WHEN CAST(n2 AS HUGEINT) * 2 * n_vecs
       |    < CAST(sum_n2 AS HUGEINT) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_norm_low,
       |  CAST(sum(CASE WHEN CAST(n2 AS HUGEINT) * n_vecs
       |    > CAST(sum_n2 AS HUGEINT) * 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_norm_high
       |FROM n2t JOIN st ON n2t.label = st.label
       |GROUP BY n2t.label
       |ORDER BY n2t.label""".stripMargin

  // ---------------------------------------------------------------- q240
  /** kNN LABEL HOMOPHILY — does the embedding geometry respect the
    * labels? Per label: the share of served top-k neighbor edges
    * (q193's [[knnEdges]] table) that land on a SAME-label neighbor,
    * next to the CHANCE rate (the label's corpus share — what a
    * random neighbor would score). Homophily ≫ chance means the
    * space clusters by label (k-NN classification and q77's semantic
    * dedup are trustworthy); homophily ≈ chance means the labels are
    * invisible to the geometry and every label-assuming consumer
    * (q41 centroids, q169 recovery) is building on sand. The
    * edge-level companion to q169's centroid-level recovery audit.
    *
    * Determinism: counts int64 off the exact-ranked edge table;
    * shares micro floor-div.
    *
    * Scale posture: one broadcast label-lookup join onto the memoized
    * n·k edge frame, then a partial-aggregable |labels| aggregate;
    * the label marginals are a second |labels| aggregate broadcast
    * in. */
  private def q240(spark: SparkSession, dir: String): DataFrame = {
    val emb = scaledEmb(spark, dir)
    val marginals = emb.groupBy(col("label").as("m_label"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_total"))))
    val nbLabels = emb.select(col("vec_id").as("nb"),
      col("label").as("nb_label"))
    knnEdges(spark, dir)
      .join(broadcast(nbLabels), "nb")
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("q_label") === col("nb_label"), 1L).otherwise(0L))
          .as("n_same"))
      .join(broadcast(marginals), col("label") === col("m_label"))
      .select(col("label"), col("n_edges"), col("n_same"),
        expr("(1000000 * n_same) div n_edges").as("homophily_u"),
        expr("(1000000 * cnt) div n_total").as("chance_u"))
      .orderBy(col("label"))
  }

  private val q240Sql =
    s"""WITH emb AS (
       |  SELECT *, $signBucketSql AS bkt FROM ($scaledEmbSql)),
       |edges AS (
       |  SELECT q.label AS q_label, c.label AS nb_label,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosineSql(dotLSql("c.sv", "q.sv"), "c.n2", "q.n2")}
       |        DESC, c.vec_id) AS rnk
       |  FROM emb c JOIN emb q
       |    ON c.bkt = q.bkt AND c.vec_id <> q.vec_id
       |    AND c.n2 > 0 AND q.n2 > 0),
       |agg AS (
       |  SELECT q_label AS label, count(*) AS n_edges,
       |    CAST(sum(CASE WHEN q_label = nb_label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_same
       |  FROM edges WHERE rnk <= $HubK GROUP BY 1),
       |marg AS (
       |  SELECT label, count(*) AS cnt,
       |    (SELECT count(*) FROM emb) AS n_total
       |  FROM emb GROUP BY 1)
       |SELECT a.label, n_edges, n_same,
       |  (1000000 * n_same) // n_edges AS homophily_u,
       |  (1000000 * cnt) // n_total AS chance_u
       |FROM agg a JOIN marg m ON a.label = m.label
       |ORDER BY a.label""".stripMargin

  val queries: Map[String, Q] = Map(
    "q238_embedding_quality" -> (q238 _),
    "q240_knn_homophily" -> (q240 _),
    "q193_hubness" -> (q193 _),
    "q196_twonn_id" -> (q196 _),
    "q204_mutual_knn" -> (q204 _),
    "q186_source_kappa" -> (q186 _),
    "q187_risk_coverage" -> (q187 _),
    "q188_label_lift" -> (q188 _),
    "q183_trust_panel" -> (q183 _),
    "q182_confidence_drift" -> (q182 _),
    "q181_noise_by_source" -> (q181 _),
    "q178_noise_roster" -> (q178 _),
    "q175_label_noise" -> (q175 _),
    "q174_drift_panel" -> (q174 _),
    "q173_source_recovery" -> (q173 _),
    "q172_relabel_roster" -> (q172 _),
    "q171_margin_calibration" -> (q171 _),
    "q170_margin_audit" -> (q170 _),
    "q169_centroid_recovery" -> (q169 _),
    "q209_head_scorecard" -> (q209 _),
    "q213_centroid_separation" -> (q213 _),
    "q214_cluster_health" -> (q214 _),
    "q222_norm_margin_corr" -> (q222 _),
    "q226_quant_impact" -> (q226 _),
    "q158_pq_budget_sweep" -> (q158 _),
    "q166_nprobe_sweep" -> (q166 _),
    "q168_retrieval_eval" -> (q168 _),
    "q124_hard_negatives" -> (q124 _),
    "q126_label_psi"      -> (q126 _),
    "q130_ivf_cell_profile" -> (q130 _),
    "q97_integrity"       -> (q97 _),
    "q100_embedding_drift" -> (q100 _),
    "q105_semantic_decontam" -> (q105 _),
    "q106_cluster_prune"  -> (q106 _),
    "q113_ann_recall"     -> (q113 _),
    "q114_crossmodal_dedup" -> (q114 _),
    "q79_kmeans_step"     -> (q79 _),
    "q38_cosine_topk"     -> (q38 _),
    "q39_lsh_ann"         -> (q39 _),
    "q40_embedding_neardup" -> (q40 _),
    "q251_threshold_curve" -> (q251 _),
    "q252_cell_blocked_neardup" -> (q252 _),
    "q253_nearident_dedup" -> (q253 _),
    "q41_label_centroids" -> (q41 _),
    "q44_ivf_ann"         -> (q44 _),
    "q58_scalar_quant"    -> (q58 _),
    "q135_pq_codes"       -> (q135 _),
    "q136_pq_adc_recall"  -> (q136 _),
    "q137_ivfpq_adc"      -> (q137 _),
    "q144_rrf_fusion"     -> (q144 _),
    "q66_ann_retrieval"   -> (q66 _),
    "q71_embedding_profile" -> (q71 _),
    "q77_semantic_dedup"  -> (q77 _))

  // lazy: q114Sql interpolates Dedup.oracles, and Dedup's own init
  // touches this object (semNearDupPairsSql) — an eager map here would
  // force q114Sql inside that nested init and read a null Dedup map.
  lazy val oracles: Map[String, String] = Map(
    "q238_embedding_quality" -> q238Sql,
    "q240_knn_homophily" -> q240Sql,
    "q193_hubness" -> q193Sql,
    "q196_twonn_id" -> q196Sql,
    "q204_mutual_knn" -> q204Sql,
    "q186_source_kappa" -> q186Sql,
    "q187_risk_coverage" -> q187Sql,
    "q188_label_lift" -> q188Sql,
    "q183_trust_panel" -> q183Sql,
    "q182_confidence_drift" -> q182Sql,
    "q181_noise_by_source" -> q181Sql,
    "q178_noise_roster" -> q178Sql,
    "q175_label_noise" -> q175Sql,
    "q174_drift_panel" -> q174Sql,
    "q173_source_recovery" -> q173Sql,
    "q172_relabel_roster" -> q172Sql,
    "q171_margin_calibration" -> q171Sql,
    "q170_margin_audit" -> q170Sql,
    "q169_centroid_recovery" -> q169Sql,
    "q209_head_scorecard" -> q209Sql,
    "q213_centroid_separation" -> q213Sql,
    "q214_cluster_health" -> q214Sql,
    "q222_norm_margin_corr" -> q222Sql,
    "q226_quant_impact" -> q226Sql,
    "q158_pq_budget_sweep" -> q158Sql,
    "q166_nprobe_sweep" -> q166Sql,
    "q168_retrieval_eval" -> q168Sql,
    "q124_hard_negatives" -> q124Sql,
    "q126_label_psi"      -> q126Sql,
    "q130_ivf_cell_profile" -> q130Sql,
    "q97_integrity"       -> q97Sql,
    "q100_embedding_drift" -> q100Sql,
    "q105_semantic_decontam" -> q105Sql,
    "q106_cluster_prune"  -> q106Sql,
    "q113_ann_recall"     -> q113Sql,
    "q114_crossmodal_dedup" -> q114Sql,
    "q79_kmeans_step"     -> q79Sql,
    "q38_cosine_topk"     -> q38Sql,
    "q39_lsh_ann"         -> q39Sql,
    "q40_embedding_neardup" -> q40Sql,
    "q251_threshold_curve" -> q251Sql,
    "q252_cell_blocked_neardup" -> q252Sql,
    "q253_nearident_dedup" -> q253Sql,
    "q41_label_centroids" -> q41Sql,
    "q44_ivf_ann"         -> q44Sql,
    "q58_scalar_quant"    -> q58Sql,
    "q135_pq_codes"       -> q135Sql,
    "q136_pq_adc_recall"  -> q136Sql,
    "q137_ivfpq_adc"      -> q137Sql,
    "q144_rrf_fusion"     -> q144Sql,
    "q66_ann_retrieval"   -> q66Sql,
    "q71_embedding_profile" -> q71Sql,
    "q77_semantic_dedup"  -> q77Sql)
}
