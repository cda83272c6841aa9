package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkSpec}
import graft.operators.{Divergence, Similarity}

/** The streaming confidence-drift monitor must be exactly batch q182
  * over everything seen: with the artifact and marginal frozen from
  * the corpus itself, every boundary equals a pure-Scala prefix replay
  * through the same scoring + ECDF arithmetic, and the final-boundary
  * emd_u is bit-equal to q182 per source; a planted boundary-hugging
  * feed alarms while an on-centroid feed stays near zero. */
class ConfStreamsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def refOf(dir: String): NoiseStreams.NoiseRef = {
    val (labels, cents, cn2, thr) =
      Similarity.confidentReference(spark, dir)
    NoiseStreams.NoiseRef(labels, cents, cn2, thr)
  }

  test("every boundary equals the prefix replay; final emd_u is " +
      "bit-equal to batch q182") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = SparkSpec.Sf0001
    val ref = refOf(dir)
    val marginal = ConfStreams.reference(spark, dir)
    val rows = graft.Tables.embeddings(spark, dir)
      .join(graft.Tables.documents(spark, dir)
        .select($"doc_id", $"source"), $"vec_id" === $"doc_id")
      .select($"source", $"embedding")
      .as[(String, Array[Float])].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Array[Float])]
    val latest = scala.collection.mutable.Map
      .empty[String, KsStreams.KsSnapshot]
    val q = ConfStreams.conf(mem.toDF().toDF("source", "embedding"),
      ref, marginal)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[KsStreams.KsSnapshot], _: Long) =>
          latest.synchronized {
            b.collect().foreach(s => latest(s.source) = s)
          }
      }.start()

    val fed = scala.collection.mutable.ArrayBuffer
      .empty[(String, Array[Float])]
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
        fed ++= chunk
        latest.synchronized {
          fed.groupBy(_._1).foreach { case (src, rs) =>
            val counts = rs.groupBy(r =>
              NoiseStreams.confBucket(ref, r._2)).view
              .mapValues(_.size.toLong).toMap
            val (ks, emd) = Divergence.ksEmdU(counts, marginal)
            latest(src).n_docs shouldBe rs.size.toLong
            latest(src).ks_u shouldBe ks
            latest(src).emd_u shouldBe emd
          }
        }
      }
    } finally q.stop()

    val batch = SparkEntry.queries("q182_confidence_drift")(spark, dir)
      .select("source", "n_vecs", "emd_u")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    latest.synchronized {
      latest.keySet shouldBe batch.keySet
      latest.foreach { case (src, snap) =>
        (snap.n_docs, snap.emd_u) shouldBe batch(src)
      }
    }
  }

  test("a boundary-hugging feed alarms; an on-centroid feed stays low") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dim = Similarity.Dim
    def v(a: Float, b: Float): Array[Float] =
      (0 until dim).map(d =>
        if (d < 6) a else if (d < 12) b else 0.01f).toArray
    val tmp = java.nio.file.Files.createTempDirectory("confs_").toString
    ((0 until 10).map(i => (i.toLong, v(1.0f, 0.0f), 0)) ++
      (0 until 10).map(i => ((100 + i).toLong, v(0.0f, 1.0f), 1)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    val ref = refOf(tmp)
    val marginal = ConfStreams.reference(spark, tmp)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Array[Float])]
    val latest = scala.collection.mutable.Map
      .empty[String, KsStreams.KsSnapshot]
    val q = ConfStreams.conf(mem.toDF().toDF("source", "embedding"),
      ref, marginal)
      .writeStream.outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[KsStreams.KsSnapshot], _: Long) =>
          latest.synchronized {
            b.collect().foreach(s => latest(s.source) = s)
          }
      }.start()
    try {
      mem.addData((0 until 20).map(_ => ("sGood", v(1.0f, 0.0f))) ++
        (0 until 20).map(_ => ("sDrift", v(1.0f, 1.0f))))
      q.processAllAvailable()
    } finally q.stop()
    latest.synchronized {
      // the on-centroid feed sits in the reference's own bucket; the
      // boundary feed's confidence mass is ~0.3 cosine away — hundreds
      // of per-mille cells of displacement
      latest("sDrift").emd_u should be > (10L * latest("sGood").emd_u)
      latest("sDrift").emd_u should be > 50000000L
    }
  }
}
