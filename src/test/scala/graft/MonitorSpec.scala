package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.pipeline.{CentroidModel, CentroidSums, Media}
import graft.operators.Divergence

/** graft.Monitor: the batch model-health CLI. A feed matching the
  * trusted reference mix reads `ok` with the summary equal to an exact
  * driver replay through the same model; a one-class flood reads
  * `page` (exit 1 under --fail-on-page, 0 otherwise — the artifact
  * still ships); the dictionary contract and the usage/output-dir
  * errors are Main/Serve's, refused loudly. */
class MonitorSpec extends AnyFunSuite with SparkSpec with Matchers {

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

  /** Fixture: dark/bright v2 model artifact + image files + a manifest
    * writer; returns (root, model path, the trained model). */
  private def fixture(): (Path, String, CentroidModel) = {
    import spark.implicits._
    val root = Files.createTempDirectory("monitor_")
    val training = (for ((base, idx) <- Seq(30, 220).zipWithIndex;
        j <- Seq(0, 4, 8))
      yield (idx, Media.imageFeatures(png(base, j))))
      .toDF("label_idx", "features")
    val sums = CentroidSums(IndexedSeq("dark", "bright"),
      CentroidModel.classSums(training, Media.FeatureDim))
    val model = root.resolve("model.gcm").toString
    sums.save(model)
    (root, model, sums.toModel)
  }

  private def writeImages(root: Path, prefix: String,
      lumas: Seq[Int]): Seq[String] = lumas.zipWithIndex.map {
    case (luma, i) =>
      val p = root.resolve(s"$prefix$i.png")
      Files.write(p, png(luma, 2 + i % 3))
      p.toString
  }

  private def manifest(root: Path, name: String,
      paths: Seq[String]): String = {
    val m = root.resolve(name)
    Files.write(m, paths.mkString("\n").getBytes("UTF-8"))
    m.toString
  }

  private def readJsonDir(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(f => Files.readAllLines(f).asScala)

  test("balanced feed reads ok with the summary equal to an exact " +
      "driver replay; a one-class flood pages (exit per --fail-on-page)") {
    val (root, model, m) = fixture()
    val refPaths = writeImages(root, "r", (0 until 6).map(31 + _) ++
      (0 until 6).map(219 + _))
    val okPaths = writeImages(root, "f", (0 until 4).map(33 + _) ++
      (0 until 4).map(217 + _))
    val floodPaths = writeImages(root, "x", (0 until 12).map(30 + _))
    val refM = manifest(root, "ref.txt", refPaths)

    def replay(paths: Seq[String]): Array[Long] = {
      val counts = new Array[Long](2)
      paths.foreach { p =>
        counts(m.scoreFeatures(Media.imageFeatures(
          Files.readAllBytes(java.nio.file.Paths.get(p))))._1) += 1L
      }
      counts
    }
    val refCounts = replay(refPaths)
    refCounts.toSeq shouldBe Seq(6L, 6L)

    // balanced feed: ok, summary == replay
    val out1 = root.resolve("out_ok")
    Monitor.run(Array(manifest(root, "ok.txt", okPaths), out1.toString,
      "--centroid", model, "--ref", refM, "--fail-on-page"),
      Some(spark)) shouldBe 0
    val sum1 = readJsonDir(out1.resolve("summary")).mkString
    val expPsi = Divergence.psiU(replay(okPaths), refCounts)
    sum1 should include(s""""psi_u":$expPsi""")
    sum1 should include(""""verdict":"ok"""")
    expPsi should be < 100000L
    // per-class shares row for each dictionary class
    val shares1 = readJsonDir(out1.resolve("shares"))
    shares1.size shouldBe 2
    shares1.mkString should include(""""label":"dark"""")

    // flood: page; --fail-on-page makes it exit 1, artifact still ships
    val out2 = root.resolve("out_page")
    val floodM = manifest(root, "flood.txt", floodPaths)
    Monitor.run(Array(floodM, out2.toString,
      "--centroid", model, "--ref", refM, "--fail-on-page"),
      Some(spark)) shouldBe 1
    val sum2 = readJsonDir(out2.resolve("summary")).mkString
    sum2 should include(""""verdict":"page"""")
    Divergence.psiU(replay(floodPaths),
      refCounts) should be >= 250000L

    // without --fail-on-page the same page verdict exits 0
    val out3 = root.resolve("out_page0")
    Monitor.run(Array(floodM, out3.toString,
      "--centroid", model, "--ref", refM), Some(spark)) shouldBe 0
    readJsonDir(out3.resolve("summary"))
      .mkString should include(""""verdict":"page"""")
  }

  test("contract errors are refused loudly: missing --ref is usage, " +
      "a mismatched --labels dictionary and an existing output dir " +
      "fail, a v1 artifact without --labels fails") {
    val (root, model, _) = fixture()
    val paths = writeImages(root, "e", Seq(30, 220))
    val mf = manifest(root, "m.txt", paths)

    // usage: --ref required
    Monitor.run(Array(mf, root.resolve("u1").toString,
      "--centroid", model), Some(spark)) shouldBe 1
    // usage: thresholds must be ordered
    Monitor.run(Array(mf, root.resolve("u2").toString,
      "--centroid", model, "--ref", mf,
      "--investigate-at", "500000", "--page-at", "100000"),
      Some(spark)) shouldBe 1

    // --labels naming a different dictionary than the v2 artifact
    val otherTree = Files.createTempDirectory("monitor_other_")
    for (n <- Seq("x", "y")) Files.createDirectories(otherTree.resolve(n))
    Monitor.run(Array(mf, root.resolve("u3").toString,
      "--centroid", model, "--ref", mf,
      "--labels", otherTree.toString), Some(spark)) shouldBe 1

    // a v1 artifact pins no names: refused without --labels
    val v1 = root.resolve("v1.gcm").toString
    CentroidModel.load(model).save(v1)
    Monitor.run(Array(mf, root.resolve("u4").toString,
      "--centroid", v1, "--ref", mf), Some(spark)) shouldBe 1

    // existing output dir refused (Serve's contract)
    val existing = root.resolve("exists")
    Files.createDirectories(existing)
    Monitor.run(Array(mf, existing.toString,
      "--centroid", model, "--ref", mf), Some(spark)) shouldBe 1
  }
}
