package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, reverse}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkSpec}

/** Every registry entry must know what it was derived from: a warm
  * session that flipped a graft knob, or whose input was rewritten in
  * place, must answer exactly as a session with a cleared registry. */
class RegistryStalenessSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def rows(s: SparkSession, q: String, dir: String): Seq[Row] =
    SparkEntry.queries(q)(s, dir).collect().toSeq

  test("q89 after a mid-session compressionGate flip equals a cleared-cache " +
      "build in the flipped state") {
    val s = spark.newSession()
    try {
      rows(s, "q89_quality_gate", SparkSpec.Sf0001)
      s.conf.set(Features.CompressionGateConf, "on")
      val warm = rows(s, "q89_quality_gate", SparkSpec.Sf0001)
      Features.clear(s)
      val cold = rows(s, "q89_quality_gate", SparkSpec.Sf0001)
      val reasons = cold.map(_.getAs[String]("reason"))
      withClue("the compression leg must reject documents on sf0.001: ") {
        reasons.count(_ == "compression") should be > 0
      }
      warm shouldBe cold
    } finally Features.clear(s)
  }

  test("q141 after documents.parquet is rewritten in place equals a " +
      "cleared-cache run") {
    val dir = Files.createTempDirectory("registry_stale_").toString
    val out = Files.createTempDirectory("registry_staged_").resolve("t")
    val docs = Paths.get(dir, "documents.parquet")
    Files.copy(Paths.get(SparkSpec.Sf0001, "documents.parquet"), docs)
    val s = spark.newSession()
    try {
      val before = rows(s, "q141_bigram_lm", dir)
      // Rewrite the file in place with every text reversed: the text is
      // read into memory first, written to another dir as one part
      // file, then moved over the original path.
      val reversed = s.read.parquet(docs.toString)
        .withColumn("text", reverse(col("text")))
      val staged = s.createDataFrame(
        s.sparkContext.parallelize(reversed.collect().toSeq, 1), reversed.schema)
      Thread.sleep(1100) // cover coarse-mtime filesystems
      staged.coalesce(1).write.parquet(out.toString)
      val part = out.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.move(part, docs, StandardCopyOption.REPLACE_EXISTING)
      val warm = rows(s, "q141_bigram_lm", dir)
      Features.clear(s)
      val cold = rows(s, "q141_bigram_lm", dir)
      withClue("reversing every text must change q141's answer: ") {
        cold should not be before
      }
      warm shouldBe cold
    } finally {
      Features.clear(s)
      Seq(dir, out.getParent.toString).foreach(d =>
        FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }
}
