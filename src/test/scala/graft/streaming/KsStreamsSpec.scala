package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkSpec}
import graft.operators.Divergence

/** The streaming KS monitor must be exactly the batch computation over
  * everything seen: with the reference set to the corpus' own value
  * marginal, the final-boundary snapshots equal batch q154 bit-for-bit
  * (exact int64 value counters + the identical integer ECDF math); at
  * every intermediate boundary the emission equals a pure-Scala replay
  * over the fed prefix; and an inside-the-PSI-bucket shape change —
  * invisible to the 8-bucket monitor — must still alarm here. */
class KsStreamsSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("final snapshots equal batch q154 when the reference is the " +
      "corpus marginal; every boundary equals the prefix replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = SparkSpec.Sf0001
    val docs = graft.Tables.documents(spark, dir)
    val ref = KsStreams.referenceValues(docs)
    val rows = docs.select("source", "n_chars")
      .as[(String, Long)].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val latest = scala.collection.mutable.Map
      .empty[String, KsStreams.KsSnapshot]
    val q = KsStreams.ks(mem.toDF().toDF("source", "n_chars"), ref)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[KsStreams.KsSnapshot], _: Long) =>
          latest.synchronized {
            b.collect().foreach(s => latest(s.source) = s)
          }
      }.start()

    val fed = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
        fed ++= chunk
        latest.synchronized {
          fed.groupBy(_._1).foreach { case (src, rs) =>
            val counts = rs.groupBy(_._2).view
              .mapValues(_.size.toLong).toMap
            latest(src).n_docs shouldBe rs.size.toLong
            val (ks, emd) = Divergence.ksEmdU(counts, ref)
            latest(src).ks_u shouldBe ks
            latest(src).emd_u shouldBe emd
          }
        }
      }
    } finally q.stop()

    // Final boundary: bit-equal to batch q154 AND batch q176 (reference
    // = the corpus' own mixture, everything seen = the corpus) — the
    // one retained state serves both drift statistics exactly.
    val batch = SparkEntry.queries("q154_ks_drift")(spark, dir)
      .select("source", "n_docs", "ks_u")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batchEmd = SparkEntry.queries("q176_emd_drift")(spark, dir)
      .select("source", "emd_u")
      .as[(String, Long)].collect().toMap
    latest.synchronized {
      latest.keySet shouldBe batch.keySet
      latest.foreach { case (src, snap) =>
        (snap.n_docs, snap.ks_u) shouldBe batch(src)
        snap.emd_u shouldBe batchEmd(src)
      }
    }
  }

  test("an inside-the-bucket shape change PSI cannot see alarms here") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // Reference: lengths clustered at the LOW edge of [64, 128) —
    // entirely inside PSI bucket 1 (64-char strides).
    val refDf = (0 until 100).map(i => ("ref", 70L + i % 5))
      .toDF("source", "n_chars")
    val ref = KsStreams.referenceValues(refDf)
    PsiStreams.bucketOf(70L) shouldBe PsiStreams.bucketOf(124L) // premise

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val latest = scala.collection.mutable.Map
      .empty[String, KsStreams.KsSnapshot]
    val q = KsStreams.ks(mem.toDF().toDF("source", "n_chars"), ref)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[KsStreams.KsSnapshot], _: Long) =>
          latest.synchronized {
            b.collect().foreach(s => latest(s.source) = s)
          }
      }.start()
    try {
      // sGood matches the reference; sDrift slid to the HIGH edge of
      // the same PSI bucket — zero bucket movement, full ECDF gap.
      mem.addData((0 until 50).map(i => ("sGood", 70L + i % 5)) ++
        (0 until 50).map(i => ("sDrift", 120L + i % 5)))
      q.processAllAvailable()
    } finally q.stop()
    latest.synchronized {
      latest("sGood").ks_u should be < 100000L
      latest("sDrift").ks_u shouldBe 1000000L // fully displaced mass
      // EMD reads the DISTANCE the mass moved, not just that it moved:
      // the drifted source slid ~50 chars, so the integral is ~50×10⁶
      // micro-char-units; the in-place source stays near zero.
      latest("sGood").emd_u should be < 1000000L
      latest("sDrift").emd_u should be > 40000000L
    }
  }
}
