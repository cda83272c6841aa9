package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkSpec}
import graft.operators.Divergence

/** The streaming PSI monitor must be exactly the batch computation
  * over everything seen: with the reference set to the corpus' own
  * bucket marginal, the final-boundary snapshots equal batch q117
  * bit-for-bit (exact int64 state + the identical cell arithmetic);
  * at every intermediate boundary the emission equals a pure-Scala
  * replay over the fed prefix; and a concatenation-drifted feed
  * arriving as its own batch alarms mid-stream while stable feeds
  * stay in the stable band. */
class PsiStreamsSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("final snapshots equal batch q117 when the reference is the " +
      "corpus marginal; intermediate boundaries equal the prefix replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = SparkSpec.Sf0001
    val docs = graft.Tables.documents(spark, dir)
    val ref = PsiStreams.referenceCounts(docs)
    val rows = docs.select("source", "n_chars")
      .as[(String, Long)].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val memDocs = mem.toDF().toDF("source", "n_chars")

    val latest = scala.collection.mutable.Map
      .empty[String, PsiStreams.PsiSnapshot]
    val q = PsiStreams.psi(memDocs, ref)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[PsiStreams.PsiSnapshot], _: Long) =>
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
            val counts = new Array[Long](8)
            rs.foreach { case (_, n) =>
              counts(PsiStreams.bucketOf(n)) += 1L
            }
            latest(src).n_docs shouldBe rs.size.toLong
            latest(src).psi_u shouldBe Divergence.psiU(counts, ref)
          }
        }
      }
    } finally q.stop()

    // Final boundary: bit-equal to batch q117 (reference = the corpus'
    // own marginal, everything seen = the corpus).
    val batch = SparkEntry.queries("q117_source_psi")(spark, dir)
      .select("source", "n_docs", "psi_u")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    latest.synchronized {
      latest.keySet shouldBe batch.keySet
      latest.foreach { case (src, snap) =>
        (snap.n_docs, snap.psi_u) shouldBe batch(src)
      }
    }
  }

  test("a drifted feed arriving as its own batch alarms mid-stream; " +
      "stable feeds stay stable") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // Reference profile: lengths spread across buckets 0-3.
    val stableLens = Seq(40L, 100L, 170L, 230L)
    val refRows = (0 until 200).map(i => ("ref", stableLens(i % 4)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val refDf = refRows.toDF("source", "n_chars")
    val ref = PsiStreams.referenceCounts(refDf)

    val mem = MemoryStream[(String, Long)]
    val latest = scala.collection.mutable.Map
      .empty[String, PsiStreams.PsiSnapshot]
    val q = PsiStreams.psi(mem.toDF().toDF("source", "n_chars"), ref)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[PsiStreams.PsiSnapshot], _: Long) =>
          latest.synchronized {
            b.collect().foreach(s => latest(s.source) = s)
          }
      }.start()
    try {
      // batch 1: both feeds on-profile
      mem.addData((0 until 40).map(i => ("good", stableLens(i % 4))) ++
        (0 until 40).map(i => ("drifty", stableLens(i % 4))))
      q.processAllAvailable()
      val before = latest.synchronized(latest("drifty").psi_u)
      before should be < 100000L // stable band
      // batch 2: the drifty feed floods with concatenated docs
      mem.addData((0 until 120).map(_ => ("drifty", 520L)))
      q.processAllAvailable()
      latest.synchronized {
        latest("drifty").psi_u should be > 250000L // investigate band
        latest("good").psi_u should be < 100000L
      }
    } finally q.stop()
  }
}
