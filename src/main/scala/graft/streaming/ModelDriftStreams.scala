package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Divergence
import graft.pipeline.LabelDict

/** MODEL-DRIFT MONITOR — prediction-share PSI over the SERVED model's
  * output stream, the label-shift detector that closes the trained
  * model's lifecycle (train → ship → serve → monitor): the class mix a
  * healthy feed produces under a frozen model is stable, so a moving
  * prediction share means either the FEED changed (upstream mix shift)
  * or the inputs drifted into the model's uncertain region — both
  * reasons to page before anyone trusts the labels. This watches the
  * model's OUTPUT where [[PsiStreams]] watches an input marginal and
  * [[DriftStreams]] the embedding geometry; together they localize a
  * drift alarm to feed-vs-representation-vs-decision.
  *
  * Exactness: state is `classes` int64 prediction counters — bounded
  * forever, regardless of stream length — and the PSI arithmetic is
  * [[Divergence.psiU]] over the fixed class domain (PsiStreams' and
  * batch q117/q126's one definition), so every emitted statistic is
  * bit-identical to a driver replay over everything seen (spec-pinned
  * at every batch boundary).
  *
  * Frozen-artifact posture: the reference share is computed BATCH-side
  * from the trusted corpus' predictions under the SAME model
  * ([[referenceCounts]]) and ships in the closure — a stream-updated
  * reference would absorb exactly the drift this monitor exists to
  * catch.
  *
  * Out-of-dictionary labels: the pipeline's own scorers emit
  * `labels(idx)` by construction, so an unknown label means the
  * monitor was wired with a MISMATCHED dictionary — silently ignoring
  * such rows would leave the monitor blind while appearing healthy.
  * They are counted into every snapshot's `n_unknown` instead
  * (spec-pinned): `n_unknown > 0` is itself a page condition, visible
  * on the same channel as the PSI it would otherwise mute.
  *
  * Scale posture — the [[TrainStreams]] foreachBatch fold, NOT a
  * `groupByKey(_ => 0)` stateful operator (mapGroupsWithState has no
  * map-side combine, so a single-key group would shuffle every raw
  * prediction row of a batch onto one stateful task): each batch
  * contributes ONE `groupBy(label).count()` whose shuffle payload is
  * ≤ distinct-labels rows after map-side combine; the driver folds
  * those counts into `classes` int64 cells (bounded forever) and emits
  * one snapshot per batch. A replayed batch id folds nothing (counts
  * are not idempotent — the DedupStreams at-least-once discipline,
  * held driver-side like [[TrainStreams.TrainFold]]'s).
  *
  * Restart posture — deliberately NO checkpointLocation here, the
  * [[TrainStreams.monitor]] rationale verbatim: the fold's state lives
  * driver-side, so resuming a checkpointed source would skip the
  * committed prefix while the fresh fold starts empty, silently
  * violating the replay-equality contract. A restarted monitor re-feeds
  * from the beginning (cheap: one labels-sized aggregate per batch) or
  * re-seeds from the last persisted snapshot's counts. */
object ModelDriftStreams {

  /** Running totals after a batch: predictions seen, exact PSI vs the
    * frozen reference, the per-class counts (dictionary order), and
    * the out-of-dictionary count (0 under a correctly-wired
    * dictionary; > 0 pages — see the class scaladoc). */
  final case class ShareSnapshot(n_preds: Long, psi_u: Long,
      counts: Seq[Long], n_unknown: Long)

  /** The frozen reference: per-class prediction counts of the trusted
    * corpus under the same model — `classes` longs, ships in the
    * closure. `preds` needs a `label` column (a batch
    * [[graft.pipeline.Infer.classify]] output). */
  def referenceCounts(preds: DataFrame, labels: LabelDict): Array[Long] = {
    import preds.sparkSession.implicits._
    val byLabel = preds.select(col("label")).as[String].rdd
      .map((_, 1L)).reduceByKey(_ + _).collect().toMap
    require(byLabel.nonEmpty,
      "referenceCounts: the trusted reference prediction frame is empty")
    Array.tabulate(labels.size)(i => byLabel.getOrElse(labels(i), 0L))
  }

  /** The driver-side fold, separated from the query wiring so the
    * replay guard and the unknown-label accounting are directly
    * testable: `fold` aggregates one micro-batch to ≤ distinct-labels
    * `(label, n)` rows (map-side combine — the only shuffle), adds
    * them into the bounded class counters, and returns the running
    * snapshot; a batch id ≤ the last folded id adds nothing. */
  private[graft] final class ShareFold(idxOf: Map[String, Int], k: Int,
      ref: Array[Long]) {
    private val counts = new Array[Long](k)
    private var unknown = 0L
    private var lastFolded = -1L

    def fold(batch: DataFrame, batchId: Long): ShareSnapshot = {
      if (batchId > lastFolded) {
        lastFolded = batchId
        batch.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .collect().foreach { r =>
            val n = r.getLong(1)
            idxOf.get(r.getString(0)) match {
              case Some(i) => counts(i) += n
              case None    => unknown += n
            }
          }
      }
      ShareSnapshot(counts.sum, Divergence.psiU(counts, ref), counts.toSeq,
        unknown)
    }
  }

  /** Start the monitor over a streaming prediction frame (a streaming
    * [[graft.pipeline.Infer.classify]] output — needs a `label`
    * column). `onSnapshot(snapshot, batchId)` fires after every
    * micro-batch with the running share snapshot; see the class
    * scaladoc for the scale, replay, and restart contracts. */
  def monitor(preds: DataFrame, labels: LabelDict, ref: Array[Long],
      onSnapshot: (ShareSnapshot, Long) => Unit): StreamingQuery = {
    require(ref.length == labels.size,
      s"reference has ${ref.length} classes, dictionary ${labels.size}")
    val fold = new ShareFold(labels.labels.zipWithIndex.toMap,
      labels.size, ref)
    preds.select(col("label")).writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onSnapshot(fold.fold(batch, batchId), batchId)
      }
      .start()
  }
}
