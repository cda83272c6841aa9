package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end contract of the curation CLI: the shipped corpus is
  * EXACTLY the set q84's report describes, the split partition layout
  * matches q83's assignment rule, and the Hadoop output-dir contract
  * holds. */
class CurateSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val sfDir = SparkSpec.Sf0001

  test("curated corpus matches the funnel report and the split rule") {
    import spark.implicits._
    val out = Files.createTempDirectory("curate").toString + "/job"
    Curate.run(spark, sfDir, out)

    val corpus = spark.read.parquet(s"$out/corpus")
    val report = spark.read.json(s"$out/report")

    // Row count == the report's total survivors (sum of per-source
    // n_mixed) == q78's final-stage count: one pipeline, three views.
    val shipped = corpus.count()
    shipped shouldBe report.agg(org.apache.spark.sql.functions.sum("n_mixed"))
      .head.getLong(0)
    shipped shouldBe SparkEntry.queries("q78_curation_funnel")(spark, sfDir)
      .filter($"stage" === "4_mixed").head.getAs[Long]("n_docs")
    shipped should be > 0L

    // Partition layout: every split dir value comes from q83's rule,
    // and re-deriving the assignment from shipped text agrees with the
    // partition each row landed in.
    val splits = corpus.select("split").distinct().as[String].collect().toSet
    splits.subsetOf(Set("train", "val", "test")) shouldBe true
    corpus.filter(graft.operators.TextAnalysis.splitAssign =!= $"split")
      .count() shouldBe 0L

    // Survivors are exactly the q84-described set per source.
    val bySource = corpus.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val reported = report.select("source", "n_mixed")
      .as[(String, Long)].collect().toMap.filter(_._2 > 0)
    bySource shouldBe reported
  }

  test("the shipped manifest fingerprints exactly the shipped corpus: " +
      "re-diffing the corpus against its own artifact is all-unchanged") {
    import spark.implicits._
    val out = Files.createTempDirectory("curate-m").toString + "/job"
    Curate.run(spark, sfDir, out)

    val corpus = spark.read.parquet(s"$out/corpus")
    // The artifact describes what shipped: diffing the shipped corpus
    // against it must classify every source unchanged with zero delta
    // (any drift means the manifest was computed off a different set).
    val diff = ManifestWriter.diffAgainstStored(corpus, s"$out/manifest")
      .as[(String, String, Long, Long)].collect()
    diff should not be empty
    all(diff.map(_._2)) shouldBe "unchanged"
    all(diff.map(_._3)) shouldBe 0L
    all(diff.map(_._4)) shouldBe 0L
  }

  test("--with-ledger ships the doc-level fingerprint ledger of " +
      "exactly the shipped corpus: the self-delta is all-unchanged") {
    import spark.implicits._
    val out = Files.createTempDirectory("curate-l").toString + "/job"
    Curate.run(spark, sfDir, out, withLedger = true)

    val corpus = spark.read.parquet(s"$out/corpus")
    // the ledger row set IS the corpus (doc-granularity manifest)
    val ledger = ManifestWriter.read(spark, s"$out/ledger")
    ledger.count() shouldBe corpus.count()
    // delta of the shipped corpus against its own shipped ledger:
    // every (source, status) row must read unchanged with zero drift —
    // any added/changed/removed row means the artifact was computed
    // off a different document set than what shipped.
    val delta = ManifestWriter
      .deltaAgainstStoredLedger(corpus, s"$out/ledger")
      .as[(String, String, Long, Long)].collect()
    delta should not be empty
    all(delta.map(_._2)) shouldBe "unchanged"
    all(delta.map(_._4)) shouldBe 0L
    // and without the flag, no ledger ships
    val out2 = Files.createTempDirectory("curate-l0").toString + "/job"
    Curate.run(spark, sfDir, out2)
    Files.exists(java.nio.file.Paths.get(s"$out2/ledger")) shouldBe false
  }

  test("--with-quality ships exactly q92's final stage and only " +
      "quality-admitted documents") {
    import spark.implicits._
    val out = Files.createTempDirectory("curate-q").toString + "/job"
    Curate.run(spark, sfDir, out, withQuality = true)

    val corpus = spark.read.parquet(s"$out/corpus")
    val report = spark.read.json(s"$out/report")

    // Shipped rows == the q92 report's 5_mixed stage (the report that
    // ships IS the chain that ran).
    val shipped = corpus.count()
    shipped shouldBe report.filter($"stage" === "5_mixed")
      .head.getAs[Long]("n_docs")
    shipped shouldBe SparkEntry.queries("q92_extended_funnel")(spark, sfDir)
      .filter($"stage" === "5_mixed").head.getAs[Long]("n_docs")

    // No shipped doc is quality-rejected, and the quality-gated corpus
    // is a subset of the ungated one.
    val decisions = graft.operators.TextAnalysis.queries("q89_quality_gate")(
      spark, sfDir)
    val rejected = decisions.filter(!$"admit")
      .select("doc_id").as[Long].collect().toSet
    corpus.select("doc_id").as[Long].collect()
      .exists(rejected) shouldBe false
  }

  test("--with-dsir ships exactly the funnel survivors the frozen " +
      "artifact selects, and the selection report accounts for every doc") {
    import spark.implicits._
    val out = Files.createTempDirectory("curate-d").toString + "/job"
    Curate.run(spark, sfDir, out, withDsir = true)

    val corpus = spark.read.parquet(s"$out/corpus")
    val plain = {
      val o2 = Files.createTempDirectory("curate-p").toString + "/job"
      Curate.run(spark, sfDir, o2)
      spark.read.parquet(s"$o2/corpus").select("doc_id").as[Long]
        .collect().toSet
    }
    val selectedIds = SparkEntry.queries("q107_dsir_weights")(spark, sfDir)
      .filter($"decision" === "selected")
      .select("doc_id").as[Long].collect().toSet

    // shipped == funnel survivors ∩ DSIR-selected, exactly
    corpus.select("doc_id").as[Long].collect().toSet shouldBe
      (plain intersect selectedIds)

    // the selection sidecar accounts for the whole corpus
    val dsirReport = spark.read.json(s"$out/report_dsir")
    dsirReport.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head.getLong(0) shouldBe
      graft.Tables.documents(spark, sfDir).count()
    // ...and its funnel-survivor column reconciles exactly against
    // the shipped corpus: selected ∩ survivors == what shipped
    dsirReport.filter($"decision" === "selected")
      .agg(org.apache.spark.sql.functions.sum("n_docs_funnel"))
      .head.getLong(0) shouldBe corpus.count()
  }

  test("--with-shards writes per-epoch manifests of exactly the " +
      "shipped corpus, one file per populated cell") {
    import spark.implicits._
    val out = Files.createTempDirectory("curate-s").toString + "/job"
    Curate.run(spark, sfDir, out, withShards = true)

    val corpus = spark.read.parquet(s"$out/corpus")
    val shards = spark.read.parquet(s"$out/shards")

    // Every epoch manifests exactly the shipped docs, once each.
    val shippedIds = corpus.select("doc_id").as[Long].collect().toSet
    shards.select("epoch").distinct().count() shouldBe
      graft.operators.TextAnalysis.ShuffleEpochs
    shards.groupBy("epoch").count().select("count").as[Long].collect()
      .foreach(_ shouldBe shippedIds.size.toLong)
    shards.filter($"epoch" === 0).select("doc_id").as[Long]
      .collect().toSet shouldBe shippedIds

    // The stamped shard agrees with q111's assignment rule.
    shards.filter(graft.operators.TextAnalysis.shardAssign(
        $"doc_id", $"epoch".cast("long")) =!= $"shard".cast("long"))
      .count() shouldBe 0L
  }

  test("pre-existing output directory is an error (Hadoop contract)") {
    val out = Files.createTempDirectory("curate-exists").toString
    val e = intercept[IllegalStateException] {
      Curate.run(spark, sfDir, out)
    }
    e.getMessage should include("already exists")
  }

  test("a tier where every document is rejected ships an empty corpus: " +
      "no shards, zero manifest and ledger totals, no error") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    import graft.pipeline.HashScorer
    val tier = Files.createTempDirectory("curate-none").toString
    // Every doc fails q75's mixing coin: its md5u32(id#source) draw
    // lands at or above the source's weight (mixWMilli), so the last
    // stage rejects it whatever the earlier stages decide.
    val source = "feed0"
    val wMilli = (1L + HashScorer.md5u32(source) % 4L) * 250L
    val ids = (1L to 400L)
      .filter(id => HashScorer.md5u32(s"$id#$source") % 1000L >= wMilli)
      .take(20)
    ids should have size 20
    ids.map { id =>
      val t = (0 until 30).map(j => s"w${(id * 31 + j * 7) % 97}x$id")
        .mkString(" ")
      (id, t, "en", source, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tier/documents.parquet")
    (0L until 10L).map { i =>
      (i, (0 until graft.operators.Similarity.Dim)
        .map(j => (HashScorer.md5u32(s"$i:$j") % 2001 - 1000).toFloat / 1000f)
        .toArray,
        (i % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tier/embeddings.parquet")

    val out = Files.createTempDirectory("curate-none-out").toString + "/job"
    try Curate.run(spark, tier, out, withShards = true, withLedger = true)
    finally graft.operators.Features.clear(spark)

    // Partitioned artifacts with no rows: committed, no partition dirs.
    def dirs(artifact: String): Seq[String] =
      new java.io.File(s"$out/$artifact").listFiles().map(_.getName).toSeq
    dirs("corpus") should contain("_SUCCESS")
    dirs("corpus").filter(_.startsWith("split=")) shouldBe empty
    dirs("shards") should contain("_SUCCESS")
    dirs("shards").filter(_.startsWith("epoch=")) shouldBe empty
    def total(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(coalesce(sum(col(c)), lit(0L))).head.getLong(0)
    total(ManifestWriter.read(spark, s"$out/manifest"), "n_docs") shouldBe 0L
    ManifestWriter.read(spark, s"$out/ledger").count() shouldBe 0L
    total(spark.read.json(s"$out/report"), "n_mixed") shouldBe 0L
    total(spark.read.json(s"$out/report"), "n_corpus") shouldBe 20L
  }
}
