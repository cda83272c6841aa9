package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.{Divergence, TextAnalysis}

/** STREAMING length-PSI monitor — the stateful twin of batch q117 and
  * the third member of the streaming drift family ([[DriftStreams]]
  * watches a feed's embedding geometry, [[HeavyHitterStreams]] its
  * dominant tokens, this its length DISTRIBUTION): per source, the
  * running document-length bucket counts live in stream state, and
  * every micro-batch emits the source's updated Population Stability
  * Index against a FROZEN reference distribution (the last blessed
  * corpus build's bucket marginal, computed batch-side — the
  * deployment shape: the stream answers "is this feed's length profile
  * moving right now" per batch without re-scanning anything).
  *
  * State is BOUNDED BY CONSTRUCTION: 8 int64 bucket counters per
  * source, forever, regardless of stream length — and the counts are
  * EXACT, so after any number of micro-batches the emitted PSI is
  * bit-identical to batch q117's arithmetic over everything seen
  * ([[Divergence.psiU]], the scalar replay of q117's kernel —
  * spec-pinned against batch q117 when the reference is the corpus'
  * own marginal).
  *
  * Scale posture: docs shuffle once, keyed by source, into the
  * stateful operator; the reference is [[TextAnalysis.PsiBuckets]]
  * longs in the closure; snapshots are one row per source per batch. */
object PsiStreams {

  private val B = TextAnalysis.PsiBuckets.toInt

  final case class PsiState(counts: Array[Long])
  final case class PsiSnapshot(source: String, n_docs: Long, psi_u: Long)

  /** q117's bucket assignment: 64-char strides, open-topped. */
  def bucketOf(nChars: Long): Int =
    math.min(B - 1L, nChars / TextAnalysis.PsiStride).toInt

  /** The frozen reference: the trusted corpus' bucket marginal,
    * computed batch-side from a documents frame (needs n_chars).
    * Eight longs — ships in the closure. */
  def referenceCounts(docs: DataFrame): Array[Long] = {
    import docs.sparkSession.implicits._
    val cells = docs.select(col("n_chars")).as[Long].rdd
      .map(n => (bucketOf(n), 1L)).reduceByKey(_ + _).collect()
    require(cells.nonEmpty,
      "referenceCounts: the trusted reference documents frame is empty — " +
        "a PSI reference distribution cannot be derived from zero docs")
    val ref = new Array[Long](B)
    cells.foreach { case (b, c) => ref(b) = c }
    ref
  }

  /** Per-source PSI snapshots, updated every micro-batch (use with
    * `outputMode("update")`). `docs` needs (source, n_chars). */
  def psi(docs: DataFrame, ref: Array[Long]): Dataset[PsiSnapshot] = {
    import docs.sparkSession.implicits._
    docs.select(col("source"), col("n_chars"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[PsiState, PsiSnapshot](
        GroupStateTimeout.NoTimeout()) { (src, rows, state) =>
        advance(src, rows, ref, state)
      }
  }

  /** Pure state transition, shared with the spec: fold the batch's
    * bucket counts into the retained exact counters, emit the running
    * PSI. */
  private[streaming] def advance(src: String,
      rows: Iterator[(String, Long)], ref: Array[Long],
      state: GroupState[PsiState]): PsiSnapshot = {
    val counts = state.getOption.map(_.counts.clone())
      .getOrElse(new Array[Long](B))
    rows.foreach { case (_, n) => counts(bucketOf(n)) += 1L }
    state.update(PsiState(counts))
    PsiSnapshot(src, counts.sum, Divergence.psiU(counts, ref))
  }
}
