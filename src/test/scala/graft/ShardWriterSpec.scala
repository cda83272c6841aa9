package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

/** The executed shard layout must BE the q111 plan: per-directory row
  * counts and token sums equal the report cell-for-cell, the directory
  * tree is the partitioned `epoch=E/shard=S` shape a loader consumes,
  * every doc appears exactly once per epoch, and the payload shape
  * carries full rows while the manifest carries only ids + token
  * counts. */
class ShardWriterSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val sfDir = SparkSpec.Sf0001

  /** q111's cell-summary schema. */
  private val CellSchema = Seq("epoch", "shard", "n_docs", "n_tokens")
    .map(_ -> org.apache.spark.sql.types.LongType)

  test("manifest write: directory layout + per-cell counts equal the " +
      "q111 plan; each doc lands exactly once per epoch") {
    import spark.implicits._
    val out = Files.createTempDirectory("shards").toString + "/plan"
    val docs = Tables.documents(spark, sfDir)
    val summary = ShardWriter.write(spark, docs, out)

    // The written summary IS the q111 report, cell for cell.
    val plan = SparkEntry.queries("q111_epoch_shuffle")(spark, sfDir)
      .select("epoch", "shard", "n_docs", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    summary.select("epoch", "shard", "n_docs", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe plan
    summary.schema.map(f => (f.name, f.dataType)) shouldBe CellSchema

    // Directory tree: every populated plan cell has its epoch=/shard=
    // directory on disk.
    val root = new java.io.File(out)
    val dirs = for {
      e <- root.listFiles().toSeq if e.getName.startsWith("epoch=")
      s <- e.listFiles().toSeq if s.getName.startsWith("shard=")
    } yield (e.getName.stripPrefix("epoch=").toLong,
      s.getName.stripPrefix("shard=").toLong)
    dirs.toSet shouldBe plan.map(c => (c._1, c._2))

    // Each doc appears exactly once per epoch; the manifest carries
    // only the loader columns.
    val written = spark.read.parquet(out)
    written.columns.toSet shouldBe Set("doc_id", "n_tokens", "epoch", "shard")
    val nDocs = docs.count()
    written.groupBy("epoch").count().as[(Int, Long)].collect()
      .foreach { case (_, n) => n shouldBe nDocs }
    written.groupBy("epoch", "doc_id").count()
      .filter($"count" > 1).count() shouldBe 0L
  }

  test("payload write carries full rows; coalesced manifest is one " +
      "file per cell") {
    import spark.implicits._
    val base = Files.createTempDirectory("shards").toString
    val docs = Tables.documents(spark, sfDir)

    ShardWriter.write(spark, docs, s"$base/payload", epochs = 2L,
      manifestOnly = false)
    val payload = spark.read.parquet(s"$base/payload")
    Set("doc_id", "text", "source").subsetOf(payload.columns.toSet) shouldBe true
    payload.count() shouldBe docs.count() * 2

    ShardWriter.write(spark, docs, s"$base/coalesced", epochs = 2L,
      coalesceFiles = true)
    val root = new java.io.File(s"$base/coalesced")
    for {
      e <- root.listFiles().toSeq if e.getName.startsWith("epoch=")
      s <- e.listFiles().toSeq if s.getName.startsWith("shard=")
    } s.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
  }

  test("a write that ships no rows summarizes to zero cells under " +
      "q111's long schema (no schema inference over an empty tree)") {
    val out = Files.createTempDirectory("shards").toString + "/empty"
    val summary = ShardWriter.write(spark,
      Tables.documents(spark, sfDir).limit(0), out, coalesceFiles = true)
    summary.schema.map(f => (f.name, f.dataType)) shouldBe CellSchema
    summary.count() shouldBe 0L
  }
}
