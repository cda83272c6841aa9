package graft

import java.io.{IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.functions._

/** Retrieval serving CLI — the front door over the index stack the
  * suite builds: answer the standing query set through a chosen
  * retriever and ship the ranked results (plus, optionally, the q168
  * quality scorecard) as artifacts.
  *
  * Usage: `graft.Serve <sf_dir> <out_dir>
  * [--retriever dense|lsh|ivf|fused] [--queries <id_file>] [--eval]`
  *
  *  - `--retriever` picks the serving path (default `fused`):
  *    `dense` = q38's exact cosine top-k (the recall ceiling),
  *    `lsh` = q39's sign-LSH buckets, `ivf` = q44's inverted-file
  *    index — built in-session through the memoized index frames, so
  *    `spark.graft.ivf.codebook=trained` reaches serving exactly as it
  *    reaches the audits — and `fused` = q144's reciprocal-rank fusion
  *    of the semantic and BM25 legs (the production default: rank
  *    fusion needs no score calibration);
  *  - `--queries <id_file>`: restrict to a subset of the standing
  *    query ids — one id per line, trimmed, blank and `#`-comment
  *    lines dropped (the manifest-file discipline); unknown ids
  *    simply answer nothing, exactly like a query with no candidates;
  *  - `--eval`: also run q168's side-by-side retrieval-quality
  *    evaluation (MRR / hit rate / precision@5 under label-match
  *    relevance, exact micro-units) and ship it as `<out>/eval/`;
  *  - `--diversify <λ>`: MMR re-rank of each served candidate list
  *    ([[graft.operators.Similarity.mmrRerank]] — λ an integer
  *    percent; 100 = pure relevance, lower λ trades relevance for
  *    novelty so near-duplicate hits stop crowding the top-k). Same
  *    rows, diversity-aware order, exact integer scoring.
  *
  * Results land as `<out>/results/` single-file JSON lines, ranked
  * rows exactly as the underlying query emits them — `ServeSpec` pins
  * served == query rows, so the CLI can never drift from the oracled
  * surface. Artifacts (`results/`, and `eval/` under `--eval`) are
  * written from the driver, not by a Spark write job: each is bounded
  * by the query panel × k rows (`spark.driver.maxResultSize` still
  * guards the one collect), and its bytes are identical to what
  * `coalesce(1).write.json` ships — one `part-*.json` plus `_SUCCESS`
  * (ServeSpec pins both per retriever). Output-dir/exit-code contracts
  * shared with [[Main]] and [[Curate]].
  *
  * Scale posture: everything is the underlying queries' audited plan
  * shapes (query side broadcasts, corpus never self-joins un-bucketed);
  * the query-id filter is a tiny IN-list pushed into the scan side of
  * each leg. At 100 TB the standing query set is the sampled panel
  * every recall audit (q113/q136/q168) already serves. Id-bounded
  * (`--queries`) serves on `ivf` AND the default `fused` take the
  * REQUEST paths ([[graft.operators.Similarity.serveIvfRequest]] /
  * [[graft.operators.Similarity.serveFusedRequest]]): driver-memoized
  * panels + index shards pinned in executor storage
  * ([[graft.operators.ServeShards]]), row-identical to the panel
  * queries (ServeSpec); each request is ONE Spark job of one stage over
  * only the shards it needs (per-shard top-k gathered on the driver),
  * with no DataFrame plan built for it.
  * Whole-CLI single-request p50 is 0.07 s on the perfbench `serve`
  * workload (warm sf0.1 tables, one id per request, 80 % fused / 20 %
  * ivf at 1.5 requests/s, 4 vCPUs).
  */
object Serve {

  private val Usage =
    "Usage: graft.Serve <sf_dir> <out_dir> " +
      "[--retriever dense|lsh|ivf|fused|fused-ann] [--queries <id_file>] " +
      "[--eval] [--diversify <lambda 0-100>]"

  private val Retrievers = Map(
    "dense" -> "q38_cosine_topk",
    "lsh"   -> "q39_lsh_ann",
    "ivf"   -> "q44_ivf_ann",
    "fused" -> "q144_rrf_fusion")

  /** Request-path-only retrievers (no batch panel query backs them):
    * `fused-ann` = the fused request with the IVF-indexed semantic leg
    * — the corpus-decade escape for the exact fused scan, recall-
    * audited against it (ScaleBench `serve`; FusedAnnSpec identity).
    * The exact `fused` stays the default and the reference ranking. */
  private val RequestOnly = Set("fused-ann")

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  final case class Config(sfDir: String, outDir: String,
      retriever: String = "fused", queriesFile: Option[String] = None,
      eval: Boolean = false, diversify: Option[Int] = None)

  private def parse(args: Array[String]): Option[Config] = {
    def loop(rest: List[String], pos: List[String],
        cfg: Config): Option[Config] = rest match {
      case Nil =>
        if (pos.length == 2) Some(cfg.copy(sfDir = pos(1), outDir = pos(0)))
        else None
      case "--retriever" :: v :: t
          if Retrievers.contains(v) || RequestOnly.contains(v) =>
        loop(t, pos, cfg.copy(retriever = v))
      case "--queries" :: v :: t if !v.startsWith("--") =>
        loop(t, pos, cfg.copy(queriesFile = Some(v)))
      case "--eval" :: t => loop(t, pos, cfg.copy(eval = true))
      case "--diversify" :: v :: t
          if v.toIntOption.exists(x => x >= 0 && x <= 100) =>
        loop(t, pos, cfg.copy(diversify = v.toIntOption))
      case s :: t if !s.startsWith("--") && pos.length < 2 =>
        loop(t, s :: pos, cfg)
      case _ => None
    }
    loop(args.toList, Nil, Config("", ""))
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
          serve(spark, cfg)
          0
        } catch {
          case e: Exception =>
            System.err.println(s"[graft.Serve] failed: ${e.getMessage}")
            1
        } finally if (existing.isEmpty) {
          graft.operators.Features.clear(spark)
          spark.stop()
        }
    }

  private def serve(spark: SparkSession, cfg: Config): Unit = {
    val outPath = new org.apache.hadoop.fs.Path(cfg.outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath))
      throw new IllegalStateException(
        s"output directory already exists: ${cfg.outDir}")

    // The manifest-file discipline (S1/F1): trimmed lines, blanks and
    // #-comments dropped; anything left must parse as an id.
    val queryIds = cfg.queriesFile.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.toLong).toSeq
      finally src.close()
    }

    // The REQUEST paths: an id-bounded retrieval resolves its query
    // vectors (and, for fused, its query terms + corpus stats) off a
    // driver-memoized panel and scores pinned index shards in one Spark
    // job — row-identical to the panel query filtered to the ids
    // (ServeSpec pins both), but per-request cost is one job over the
    // shards it needs, not a query plan or a corpus-index rebuild. ivf
    // runs on the shards holding its probed cells; fused (the CLI
    // DEFAULT) scores every corpus shard's vectors and its postings of
    // the query terms. Other retrievers (and panel serves) keep the
    // query-plan path.
    val picked = (cfg.retriever, queryIds) match {
      case ("ivf", Some(ids)) =>
        graft.operators.Similarity.serveIvfRequest(spark, cfg.sfDir, ids)
      case ("fused", Some(ids)) =>
        graft.operators.Similarity.serveFusedRequest(spark, cfg.sfDir, ids)
      case ("fused-ann", ids) =>
        // request-path-only: a panel serve answers every servable id
        graft.operators.Similarity.serveFusedAnnRequest(spark, cfg.sfDir,
          ids.getOrElse(graft.operators.Similarity
            .servableQueryIds(spark, cfg.sfDir)))
      case _ =>
        val all = SparkEntry.queries(Retrievers(cfg.retriever))(spark, cfg.sfDir)
        queryIds.fold(all)(ids => all.filter(col("q_id").isin(ids: _*)))
    }
    // --diversify λ: MMR re-rank of the served candidate lists (same
    // rows, diversity-aware order — λ=100 is pure relevance). Runs
    // AFTER the query-id filter so the greedy pass touches only the
    // lists actually served.
    val results = cfg.diversify.fold(picked)(lambda =>
      graft.operators.Similarity.mmrRerank(spark, cfg.sfDir, picked, lambda))
    writeJson(spark, results, s"${cfg.outDir}/results")

    if (cfg.eval)
      writeJson(spark, SparkEntry.queries("q168_retrieval_eval")(spark,
        cfg.sfDir), s"${cfg.outDir}/eval")
  }

  /** Ship `df` as `<dir>/part-00000-<uuid>-c000.json` + `_SUCCESS`,
    * written from the driver. A served artifact is bounded by the query
    * panel × k rows, so a Spark write job (a scheduled task and an
    * output committer for a few hundred bytes, most of them already on
    * the driver) is pure overhead around bytes the driver can produce
    * itself:
    *
    *  - one `collect()` — a tracked SQL execution, so listeners and
    *    `spark.driver.maxResultSize` still see and guard it;
    *  - each row encoded by Spark's own [[JacksonGenerator]] under the
    *    [[JSONOptions]] the JSON datasource builds for a write, one
    *    line per row — byte-identical to `coalesce(1).write.json`
    *    (ServeSpec pins it per retriever), empty part file included;
    *  - committed by renaming a sibling temp dir onto `dir`, so a
    *    reader never sees a partial artifact; a failed rename fails
    *    the serve. */
  private def writeJson(spark: SparkSession, df: DataFrame,
      dir: String): Unit = {
    val rows = df.collect()
    val toInternal = ExpressionEncoder(df.schema).createSerializer()
    val conf = spark.sessionState.conf
    val options = new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val uuid = UUID.randomUUID().toString
    val tmp = new Path(out.getParent, s"_${out.getName}-$uuid.tmp")
    val writer = new OutputStreamWriter(
      fs.create(new Path(tmp, s"part-00000-$uuid-c000.json"), false),
      StandardCharsets.UTF_8)
    val gen = new JacksonGenerator(df.schema, writer, options)
    try rows.foreach { r =>
      gen.write(toInternal(r))
      gen.writeLineEnding()
    } finally {
      gen.close()
      writer.close()
    }
    fs.create(new Path(tmp, "_SUCCESS"), false).close()
    if (fs.exists(out) || !fs.rename(tmp, out)) {
      fs.delete(tmp, true)
      throw new IOException(s"could not commit $tmp to $out")
    }
  }
}
