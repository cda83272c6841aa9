package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** STREAMING CONFIDENCE-DRIFT MONITOR — batch q182 watched live, and
  * deliberately a COMPOSITION of two audited pieces rather than new
  * machinery: each arriving vector is scored to its top-confidence
  * per-mille bucket against the FROZEN centroid artifact
  * ([[NoiseStreams.confBucket]] — batch q182's serving-path arithmetic
  * op-for-op), and the per-source bucket counters then ride
  * [[KsStreams]]' exact stateful ECDF machinery (read by
  * [[graft.operators.Divergence.ksEmdU]], q182's scalar replay)
  * against a frozen reference marginal (the blessed corpus' own
  * confidence-bucket distribution, derived batch-side through the
  * SAME frames as the q182 oracle). The emitted snapshot carries BOTH
  * full-resolution drift statistics — the max ECDF gap (KS) and the
  * mass-weighted integral (EMD, q182's number) — from one walk of the
  * state.
  *
  * Why watch this: confidence mass slides toward the decision boundary
  * BEFORE the argmax flips — a feed can pass every label check
  * ([[NoiseStreams]]) while its vectors drift into the model's
  * uncertain region; this monitor pages on exactly that movement,
  * completing the drift family's stream side (lengths: PsiStreams/
  * KsStreams; geometry: DriftStreams; labels: NoiseStreams; decision
  * margin: this).
  *
  * State is bounded by CONSTRUCTION, not just by the value domain:
  * per-mille cells of a [−1, 1] cosine give ≤ 2001 possible buckets
  * per source, forever. Exactness: with the corpus' own marginal as
  * the reference, the final-boundary emd_u is bit-equal to batch
  * q182 per source (spec-pinned), and every intermediate boundary
  * equals a pure-Scala replay over the fed prefix.
  *
  * Scale posture: scoring is a per-row map (the classes×(dim+2)-long
  * artifact ships in the closure — no shuffle to score); the scored
  * (source, bucket) rows shuffle once keyed by source into the
  * stateful operator, exactly KsStreams' audited shape. */
object ConfStreams {

  /** Per-source running confidence-drift snapshots, updated every
    * micro-batch (use with `outputMode("update")`). `feed` needs
    * (source: string, embedding: array<float>) columns; `marginal` is
    * the frozen corpus bucket distribution ([[reference]]). */
  def conf(feed: DataFrame, ref: NoiseStreams.NoiseRef,
      marginal: Seq[(Long, Long)]): Dataset[KsStreams.KsSnapshot] = {
    import feed.sparkSession.implicits._
    val r = ref
    val buckets = feed.select(col("source"), col("embedding"))
      .as[(String, Array[Float])]
      .map { case (src, emb) => (src, NoiseStreams.confBucket(r, emb)) }
      .toDF("source", "n_chars") // KsStreams' expected column shape
    KsStreams.ks(buckets, marginal)
  }

  /** The frozen reference: the blessed corpus' confidence-bucket
    * marginal — ≤ 2001 rows, ships in the closure. Derived through the
    * SAME batch frames as the q182 oracle
    * ([[graft.operators.Similarity.confidenceBuckets]]). */
  def reference(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Long)] = {
    import spark.implicits._
    val ref = graft.operators.Similarity.confidenceBuckets(spark, dir)
      .groupBy(col("b")).count()
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    require(ref.nonEmpty,
      "ConfStreams.reference: the blessed corpus produced no " +
        "confidence buckets — an empty embeddings table cannot anchor " +
        "a drift reference")
    ref
  }
}
