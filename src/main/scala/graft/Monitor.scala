package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{CentroidModel, CentroidScorer, Infer, Item,
  LabelDict, Sources}
import graft.operators.Divergence

/** Model-health CLI — the batch front door of the serve→monitor chain
  * ([[Train]] learns, [[Main]] serves, this WATCHES): score a new feed
  * manifest and a trusted reference manifest under the SAME shipped
  * model artifact, compare their prediction-share distributions with
  * the exact PSI the streaming monitor emits
  * ([[Divergence.psiU]] — one arithmetic, batch and stream
  * cannot drift), and ship the verdict as artifacts. The cron-job
  * twin of `streaming.ModelDriftStreams`: point it at every feed drop
  * before the labels are trusted.
  *
  * Usage: `graft.Monitor <feed_manifest> <out_dir>
  * --centroid <model.gcm> --ref <trusted_manifest>
  * [--labels <dir_or_file>] [--batch-size N]
  * [--investigate-at <u>] [--page-at <u>] [--fail-on-page]`
  *
  *  - `--centroid` / `--labels`: [[Main]]'s trained-model serving
  *    contract verbatim — a v2 artifact's pinned label names ARE the
  *    dictionary (an explicit `--labels` must match them); a v1
  *    artifact requires at least a class-count agreement. The
  *    dictionary-drift failure mode is refused, never fallback-mapped.
  *  - `--ref`: the trusted corpus' manifest; its predictions under
  *    this model are the frozen reference share. Computing it HERE,
  *    under the same artifact, is the frozen-reference posture — a
  *    reference computed under yesterday's model would absorb exactly
  *    the drift being watched.
  *  - `--investigate-at` / `--page-at`: verdict thresholds in exact
  *    micro-nats (defaults 100000 / 250000 — the 0.1 / 0.25 PSI bands
  *    q117/q126 document).
  *  - `--fail-on-page`: exit 1 when the verdict is `page` (the
  *    cron-friendly contract; default always exits 0 on success so a
  *    scheduled check can ship the artifact and let the reader
  *    decide).
  *
  * Artifacts: `<out>/shares/` — one row per dictionary class with
  * reference and feed counts and exact integer-floored micro-shares;
  * `<out>/summary/` — one row: totals, `psi_u`, the verdict. Both
  * single-file JSON lines ([[Serve]]'s artifact discipline); the
  * summary line also prints to stdout.
  *
  * Scale posture: each manifest is scored by the audited serving path
  * ([[Infer.classify]] — executor-side artifact load, batched, M3
  * sentinel on undecodable items) and collapses map-side to ≤ classes
  * `(label, n)` rows before anything reaches the driver; the PSI is
  * driver arithmetic over two classes-sized arrays. Nothing here
  * scales with feed size except the one classify scan per manifest. */
object Monitor {

  private val Usage =
    "Usage: graft.Monitor <feed_manifest> <out_dir> " +
      "--centroid <model.gcm> --ref <trusted_manifest> " +
      "[--labels <dir_or_file>] [--batch-size N] " +
      "[--investigate-at <u>] [--page-at <u>] [--fail-on-page]"

  final case class Config(feedManifest: String, outDir: String,
      centroid: String = "", refManifest: String = "",
      labelsPath: Option[String] = None,
      batchSize: Int = Infer.DefaultBatchSize,
      investigateAt: Long = 100000L, pageAt: Long = 250000L,
      failOnPage: Boolean = false)

  private def parse(args: Array[String]): Option[Config] = {
    def loop(rest: List[String], pos: List[String],
        cfg: Config): Option[Config] = rest match {
      case Nil =>
        if (pos.length == 2 && cfg.centroid.nonEmpty &&
            cfg.refManifest.nonEmpty && cfg.investigateAt <= cfg.pageAt)
          Some(cfg.copy(feedManifest = pos(1), outDir = pos(0)))
        else None
      case "--centroid" :: v :: t if !v.startsWith("--") =>
        loop(t, pos, cfg.copy(centroid = v))
      case "--ref" :: v :: t if !v.startsWith("--") =>
        loop(t, pos, cfg.copy(refManifest = v))
      case "--labels" :: v :: t if !v.startsWith("--") =>
        loop(t, pos, cfg.copy(labelsPath = Some(v)))
      case "--batch-size" :: v :: t if v.forall(_.isDigit) && v.nonEmpty =>
        loop(t, pos, cfg.copy(batchSize = v.toInt))
      case "--investigate-at" :: v :: t if v.forall(_.isDigit) && v.nonEmpty =>
        loop(t, pos, cfg.copy(investigateAt = v.toLong))
      case "--page-at" :: v :: t if v.forall(_.isDigit) && v.nonEmpty =>
        loop(t, pos, cfg.copy(pageAt = v.toLong))
      case "--fail-on-page" :: t => loop(t, pos, cfg.copy(failOnPage = true))
      case s :: t if !s.startsWith("--") && pos.length < 2 =>
        loop(t, s :: pos, cfg)
      case _ => None
    }
    loop(args.toList, Nil, Config("", ""))
  }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Spec-friendly entry: no `System.exit`, optional injected session. */
  def run(args: Array[String], existing: Option[SparkSession] = None): Int =
    parse(args) match {
      case None =>
        System.err.println(Usage)
        1
      case Some(cfg) =>
        val spark = existing.getOrElse(GraftSession.builder(
          cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate())
        try {
          val verdict = monitor(spark, cfg)
          if (cfg.failOnPage && verdict == "page") 1 else 0
        } catch {
          case e: Exception =>
            System.err.println(s"[graft.Monitor] failed: ${e.getMessage}")
            1
        } finally if (existing.isEmpty) {
          graft.operators.Features.clear(spark)
          spark.stop()
        }
    }

  /** Exact per-class prediction counts of a manifest under the shipped
    * model: one classify scan collapsing map-side to ≤ classes rows. */
  private def predictionCounts(spark: SparkSession, manifest: String,
      modelName: String, labels: LabelDict, batchSize: Int): Array[Long] = {
    import spark.implicits._
    val items = Sources.manifest(spark, manifest).map(l => Item(l, l))
    val byLabel = Infer
      .classify(items, new CentroidScorer(modelName), labels, batchSize)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Array.tabulate(labels.size)(i => byLabel.getOrElse(labels(i), 0L))
  }

  private def monitor(spark: SparkSession, cfg: Config): String = {
    import spark.implicits._
    val outPath = new org.apache.hadoop.fs.Path(cfg.outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath))
      throw new IllegalStateException(
        s"output directory already exists: ${cfg.outDir}")

    // Main's trained-model dictionary contract, verbatim: a v2
    // artifact's pinned names serve (an explicit --labels must match);
    // a v1 artifact needs at least the class count to agree.
    val m = CentroidModel.load(cfg.centroid)
    val explicit = cfg.labelsPath.map(LabelDict.load)
    val labels = (explicit, CentroidModel.labelNamesOf(cfg.centroid)) match {
      case (None, Some(names)) => LabelDict(names)
      case (Some(l), Some(names)) =>
        require(l.labels == names,
          s"--labels dictionary [${l.labels.mkString(",")}] does not " +
            s"match the model artifact's [${names.mkString(",")}]")
        l
      case (Some(l), None) =>
        require(m.numClasses == l.size,
          s"model has ${m.numClasses} classes but the label dictionary " +
            s"has ${l.size}")
        l
      case (None, None) =>
        throw new IllegalArgumentException(
          "a v1 artifact pins no label names - pass --labels for the " +
            "dictionary the model was trained on")
    }

    spark.sparkContext.addFile(cfg.centroid)
    val name = new java.io.File(cfg.centroid).getName
    val ref = predictionCounts(spark, cfg.refManifest, name, labels,
      cfg.batchSize)
    require(ref.sum > 0L,
      s"trusted reference manifest scored zero items: ${cfg.refManifest}")
    val feed = predictionCounts(spark, cfg.feedManifest, name, labels,
      cfg.batchSize)
    require(feed.sum > 0L,
      s"feed manifest scored zero items: ${cfg.feedManifest}")

    val psiU = Divergence.psiU(feed, ref)
    val verdict =
      if (psiU < cfg.investigateAt) "ok"
      else if (psiU < cfg.pageAt) "investigate"
      else "page"

    // Exact integer-floored micro-shares, per dictionary class.
    val (nRef, nFeed) = (ref.sum, feed.sum)
    labels.labels.indices.map { i =>
      (labels(i), ref(i), feed(i),
        1000000L * ref(i) / nRef, 1000000L * feed(i) / nFeed)
    }.toDF("label", "ref_n", "feed_n", "ref_share_u", "feed_share_u")
      .coalesce(1).write.json(s"${cfg.outDir}/shares")

    val summary = Seq((nRef, nFeed, psiU, cfg.investigateAt, cfg.pageAt,
      verdict))
      .toDF("n_ref", "n_feed", "psi_u", "investigate_at_u", "page_at_u",
        "verdict")
    summary.coalesce(1).write.json(s"${cfg.outDir}/summary")
    println(s"""{"n_ref":$nRef,"n_feed":$nFeed,"psi_u":$psiU,""" +
      s""""verdict":"$verdict"}""")
    verdict
  }
}
