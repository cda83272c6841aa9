package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.operators.Divergence
import graft.pipeline._

/** The model-drift monitor over the full serve→monitor chain: a
  * streaming Infer.classify under the TRAINED model feeds the
  * prediction-share PSI. Every boundary must equal an exact driver
  * replay over the prefix; a feed matching the reference mix stays
  * near zero while a one-class flood alarms; a replayed batch id folds
  * nothing; an out-of-dictionary label is COUNTED into the snapshot,
  * never silently dropped. */
class ModelDriftStreamsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def png(luma: Int, jitter: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val c = (luma + (if ((x + y) % 2 == 0) jitter else -jitter))
        .max(0).min(255)
      img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("streaming serve -> monitor: every boundary equals the exact " +
      "replay; a balanced feed sits near zero, a one-class flood alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // train dark/bright; trusted reference feed is balanced 6/6
    val labels = LabelDict(IndexedSeq("dark", "bright"))
    val model = CentroidModel.train(
      (for ((base, idx) <- Seq(30, 220).zipWithIndex; j <- Seq(0, 4, 8))
        yield (idx, Media.imageFeatures(png(base, j))))
        .toDF("label_idx", "features"))
    val scorer = new CentroidScorer(() => model)

    val dir = Files.createTempDirectory("mdrift_")
    def item(name: String, luma: Int, j: Int): Item = {
      val p = dir.resolve(name)
      Files.write(p, png(luma, j))
      Item(p.toString, p.toString)
    }
    val refItems = (0 until 6).map(i => item(s"rd$i.png", 31 + i, 1)) ++
      (0 until 6).map(i => item(s"rb$i.png", 219 + i, 1))
    val ref = ModelDriftStreams.referenceCounts(
      Infer.classify(refItems.toDS(), scorer, labels).toDF(), labels)
    ref.toSeq shouldBe Seq(6L, 6L)

    // batch 1: balanced (matches reference); batch 2: dark flood
    val b1 = (0 until 4).map(i => item(s"s1d$i.png", 32 + i, 2)) ++
      (0 until 4).map(i => item(s"s1b$i.png", 218 + i, 2))
    val b2 = (0 until 12).map(i => item(s"s2d$i.png", 30 + i, 3))

    val in = MemoryStream[Item]
    val snapshots = scala.collection.mutable.ArrayBuffer
      .empty[ModelDriftStreams.ShareSnapshot]
    val q = ModelDriftStreams.monitor(
      Infer.classify(in.toDS(), scorer, labels).toDF(), labels, ref,
      (s, _) => snapshots.synchronized { snapshots += s })
    try {
      for (batch <- Seq(b1, b2)) {
        in.addData(batch)
        q.processAllAvailable()
      }
    } finally q.stop()

    // exact replay over each prefix: predicted classes computed
    // driver-side through the SAME model
    def predicted(items: Seq[Item]): Array[Long] = {
      val counts = new Array[Long](2)
      items.foreach { it =>
        val (idx, _) = model.scoreFeatures(Media.imageFeatures(
          Files.readAllBytes(java.nio.file.Paths.get(it.payload))))
        counts(idx) += 1L
      }
      counts
    }
    val c1 = predicted(b1)
    val c12 = predicted(b1 ++ b2)
    snapshots.toSeq shouldBe Seq(
      ModelDriftStreams.ShareSnapshot(8L,
        Divergence.psiU(c1, ref), c1.toSeq, 0L),
      ModelDriftStreams.ShareSnapshot(20L,
        Divergence.psiU(c12, ref), c12.toSeq, 0L))

    // semantics: balanced feed near zero, the flood alarms hard
    snapshots(0).psi_u should be < 10000L   // < 0.01 nats
    snapshots(1).psi_u should be > 100000L  // > 0.1 nats — page
    c12.toSeq shouldBe Seq(16L, 4L)         // the flood is real dark mass
  }

  test("a replayed batch id folds nothing, and an out-of-dictionary " +
      "label is counted into n_unknown instead of muting the monitor") {
    import spark.implicits._
    val idxOf = Map("dark" -> 0, "bright" -> 1)
    val ref = Array(6L, 6L)
    val fold = new ModelDriftStreams.ShareFold(idxOf, 2, ref)

    val b0 = Seq("dark", "dark", "bright").toDF("label")
    val s0 = fold.fold(b0, 0L)
    s0 shouldBe ModelDriftStreams.ShareSnapshot(3L,
      Divergence.psiU(Array(2L, 1L), ref), Seq(2L, 1L), 0L)

    // at-least-once redelivery: strict no-op (counts not idempotent)
    fold.fold(b0, 0L) shouldBe s0

    // a mismatched dictionary (labels the dict doesn't know) must NOT
    // be silently dropped: it lands in n_unknown, known counts still
    // advance for the rows that do match
    val b1 = Seq("dark", "dim", "dim", "dim").toDF("label")
    val s1 = fold.fold(b1, 1L)
    s1.counts shouldBe Seq(3L, 1L)
    s1.n_unknown shouldBe 3L
    s1.n_preds shouldBe 4L // dictionary-resolved predictions only
  }
}
