package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.Divergence

/** STREAMING exact-KS + Wasserstein drift monitor — the
  * full-resolution member of the streaming drift family, completing
  * the PSI-vs-KS trade batch q117/q154 document: [[PsiStreams]] keeps
  * 8 fixed bucket counters per source (robust, constant state, blind
  * to shape changes inside a bucket); this keeps the EXACT per-value
  * counters and emits the running two-sample Kolmogorov–Smirnov
  * statistic AND the exact 1-D earth-mover distance (batch q176 —
  * same state, second read: the counters are the sufficient statistic
  * for the whole ECDF) against a FROZEN reference distribution (the
  * blessed corpus' value marginal, computed batch-side — the same
  * ship-the-artifact posture as the PSI reference, the quality LM and
  * the decontamination postings).
  *
  * State is bounded by the VALUE DOMAIN, not the stream: one int64
  * per distinct document length a source has ever shipped (q154's
  * boundedness argument — lengths top out at the max document size,
  * regardless of row count). The counters are an exact int64 monoid,
  * so after any number of micro-batches the emitted statistic is
  * bit-identical to the batch arithmetic over everything seen —
  * [[graft.operators.Divergence.ksEmdU]] is the scalar replay of the
  * batch kernel q154/q176 run (micro-unit `div` on cumulative counts,
  * no float accumulation), and the spec pins a full-corpus stream
  * equal to batch q154 and q176 per source.
  *
  * Scale posture: docs shuffle once, keyed by source, into the
  * stateful operator; the reference rides the closure (value-domain-
  * sized); snapshots are one row per source per batch. */
object KsStreams {

  final case class KsState(values: Map[Long, Long])
  final case class KsSnapshot(source: String, n_docs: Long, ks_u: Long,
      emd_u: Long)

  /** The frozen reference: the trusted corpus' value marginal
    * (needs n_chars). Value-domain-sized — ships in the closure. */
  def referenceValues(docs: DataFrame): Seq[(Long, Long)] = {
    import docs.sparkSession.implicits._
    val ref = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    require(ref.nonEmpty,
      "referenceValues: the trusted reference documents frame is empty — " +
        "a KS reference distribution cannot be derived from zero docs")
    ref
  }

  /** Per-source KS snapshots, updated every micro-batch (use with
    * `outputMode("update")`). `docs` needs (source, n_chars). */
  def ks(docs: DataFrame, ref: Seq[(Long, Long)]): Dataset[KsSnapshot] = {
    import docs.sparkSession.implicits._
    docs.select(col("source"), col("n_chars"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[KsState, KsSnapshot](
        GroupStateTimeout.NoTimeout()) { (src, rows, state) =>
        advance(src, rows, ref, state)
      }
  }

  /** Pure state transition, shared with the spec: fold the batch's
    * value counts into the retained exact counters, emit the running
    * statistic. The fold runs in a `mutable.LongMap` (one hash-table
    * upsert per row, zero per-row allocation) and materializes the
    * immutable state map ONCE per micro-batch — on a hot stream the
    * per-row `Map.updated` persistent-node chain this replaces was
    * pure GC pressure. */
  private[streaming] def advance(src: String,
      rows: Iterator[(String, Long)], ref: Seq[(Long, Long)],
      state: GroupState[KsState]): KsSnapshot = {
    val acc = scala.collection.mutable.LongMap.empty[Long]
    state.getOption.foreach(_.values.foreach { case (v, c) => acc(v) = c })
    rows.foreach { case (_, v) => acc(v) = acc.getOrElse(v, 0L) + 1L }
    val counts = acc.iterator.map { case (v, c) => (v, c) }.toMap
    state.update(KsState(counts))
    val (ks, emd) = Divergence.ksEmdU(counts, ref)
    KsSnapshot(src, counts.valuesIterator.sum, ks, emd)
  }
}
