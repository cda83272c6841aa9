package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.Similarity

/** The retrieval serving CLI: served rows must be EXACTLY the oracled
  * query's rows (the CLI cannot drift from the audited surface), the
  * query-file filter must restrict per id, `--eval` must ship q168's
  * scorecard, the driver-side artifact writer must produce the bytes
  * and layout Spark's JSON writer would, and the usage/output-dir
  * contracts must hold. */
class ServeSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val sfDir = SparkSpec.Sf0001

  /** Id lists a request can carry, over the servable panel: the empty
    * list, all of it, and sampled subsets with duplicated and unknown ids
    * mixed in, shuffled. Seeded, so every run checks the same lists. */
  private def requestIdLists(panel: Seq[Long]): Seq[Seq[Long]] = {
    val unknown = Seq(999999L, panel.max + 1, -1L)
    val gen = for {
      sub <- Gen.someOf(panel)
      dups <- Gen.someOf(sub)
      bad <- Gen.someOf(unknown)
      order <- Gen.long
    } yield new scala.util.Random(order).shuffle((sub ++ dups ++ bad).toSeq)
    Seq(Seq.empty[Long], panel) ++ (0 until 12).flatMap { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).toSeq
    }
  }

  private def fusedRows(dir: String): Set[(Long, Long, Long, Long, Long)] =
    spark.read.json(s"$dir/results")
      .select("q_id", "doc_id", "r_sem", "r_lex", "rrf_u")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet

  test("served fused top-k == q144's rows; --eval ships q168's " +
      "scorecard; one result file") {
    val out = Files.createTempDirectory("serve_").toString + "/job"
    Serve.run(Array(sfDir, out, "--eval"), Some(spark)) shouldBe 0

    val expected = SparkEntry.queries("q144_rrf_fusion")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    fusedRows(out) shouldBe expected
    expected should not be empty

    val eval = spark.read.json(s"$out/eval")
      .select("retriever", "n_queries", "mrr_u")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val evalExpected = SparkEntry
      .queries("q168_retrieval_eval")(spark, sfDir)
      .select("retriever", "n_queries", "mrr_u")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    eval shouldBe evalExpected
    eval.map(_._1) shouldBe Set("dense", "lsh", "ivf")
  }

  test("--queries restricts to the listed ids (manifest discipline: " +
      "trim, blanks, #-comments); unknown ids answer nothing") {
    val dir = Files.createTempDirectory("serve_q_")
    val qf = dir.resolve("queries.txt")
    Files.writeString(qf, "# panel for today\n 1 \n\n3\n999999\n")
    val out = dir.toString + "/job"
    Serve.run(Array(sfDir, out, "--queries", qf.toString),
      Some(spark)) shouldBe 0
    val got = fusedRows(out)
    got.map(_._1) shouldBe Set(1L, 3L)
    got shouldBe SparkEntry.queries("q144_rrf_fusion")(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("q_id").isin(1L, 3L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
  }

  test("the ivf REQUEST path (id-bounded --queries) serves rows " +
      "IDENTICAL to q44 filtered to the ids — the driver-memoized " +
      "panel + batch-pruned cell scan may change the plan, never a " +
      "value; unknown ids answer nothing") {
    val dir = Files.createTempDirectory("serve_req_")
    val qf = dir.resolve("queries.txt")
    Files.writeString(qf, "2\n5\n999999\n")
    val out = dir.toString + "/job"
    Serve.run(Array(sfDir, out, "--retriever", "ivf",
      "--queries", qf.toString), Some(spark)) shouldBe 0
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "vec_id", "cell", "rank")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue, r.getAs[Number](3).longValue))
      .toSet
    val got = rows(spark.read.json(s"$out/results"))
    got.map(_._1) shouldBe Set(2L, 5L)
    got shouldBe rows(SparkEntry.queries("q44_ivf_ann")(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("q_id").isin(2L, 5L)))

    // Generated id lists, called on the request path directly: every
    // column (cos to the bit) and the schema, rows in q44's order.
    val q44 = SparkEntry.queries("q44_ivf_ann")(spark, sfDir)
    val q44Rows = q44.collect().toSeq
    for (ids <- requestIdLists(Similarity.servableQueryIds(spark, sfDir)))
      withClue(s"ids $ids: ") {
        val served = Similarity.serveIvfRequest(spark, sfDir, ids)
        served.schema.simpleString shouldBe q44.schema.simpleString
        served.collect().toSeq shouldBe
          q44Rows.filter(r => ids.contains(r.getLong(0)))
      }
  }

  test("the fused REQUEST path (id-bounded --queries on the DEFAULT " +
      "retriever) serves rows IDENTICAL to q144 filtered to the ids — " +
      "the memoized panel + heap top-k + postings probe may change the " +
      "plan, never a value; unknown ids answer nothing") {
    val dir = Files.createTempDirectory("serve_freq_")
    val qf = dir.resolve("queries.txt")
    Files.writeString(qf, "0\n4\n6\n999999\n")
    val out = dir.toString + "/job"
    Serve.run(Array(sfDir, out, "--queries", qf.toString),
      Some(spark)) shouldBe 0
    val got = fusedRows(out)
    got.map(_._1) shouldBe Set(0L, 4L, 6L)
    got shouldBe SparkEntry.queries("q144_rrf_fusion")(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("q_id").isin(0L, 4L, 6L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    // Unknown-only ids: the request path answers nothing, like a query
    // with no candidates.
    val qf2 = dir.resolve("queries2.txt")
    Files.writeString(qf2, "999999\n")
    val out2 = dir.toString + "/job2"
    Serve.run(Array(sfDir, out2, "--queries", qf2.toString),
      Some(spark)) shouldBe 0
    // an empty result ships an empty part file — read as text (json
    // schema inference can't see an all-empty dir)
    spark.read.text(s"$out2/results").count() shouldBe 0L

    // Generated id lists, called on the request path directly, rows in
    // q144's order. One of them must carry two ids that share a panel
    // term, so one postings row feeds two q_ids of the lexical leg.
    val q144Rows = SparkEntry.queries("q144_rrf_fusion")(spark, sfDir)
      .collect().toSeq
    val termOwners = Similarity.fusedServePanel(spark, sfDir).terms
      .groupBy(_._2).values.map(_.map(_._1).toSet).filter(_.size > 1)
    val lists = requestIdLists(Similarity.servableQueryIds(spark, sfDir))
    lists.exists(ids => termOwners.exists(_.count(ids.contains) > 1)) shouldBe
      true
    for (ids <- lists) withClue(s"ids $ids: ") {
      Similarity.serveFusedRequest(spark, sfDir, ids).collect().toSeq shouldBe
        q144Rows.filter(r => ids.contains(r.getLong(0)))
    }
  }

  test("every retriever serves its own oracled query's rows") {
    for ((flag, qname) <- Seq("dense" -> "q38_cosine_topk",
        "lsh" -> "q39_lsh_ann", "ivf" -> "q44_ivf_ann")) {
      val out = Files.createTempDirectory(s"serve_$flag").toString + "/job"
      Serve.run(Array(sfDir, out, "--retriever", flag),
        Some(spark)) shouldBe 0
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("q_id", "vec_id", "rank")
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)) // rank is int direct, long via JSON
        .toSet
      val got = rows(spark.read.json(s"$out/results"))
      got shouldBe rows(SparkEntry.queries(qname)(spark, sfDir))
    }
  }

  test("the ivf retriever honors spark.graft.ivf.codebook: serving " +
      "under 'trained' ships the trained-codebook q44 rows") {
    val conf = graft.operators.Similarity.IvfCodebookConf
    spark.conf.set(conf, "trained")
    try {
      val out = Files.createTempDirectory("serve_tc_").toString + "/job"
      Serve.run(Array(sfDir, out, "--retriever", "ivf"),
        Some(spark)) shouldBe 0
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("q_id", "vec_id", "rank")
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue))
        .toSet
      rows(spark.read.json(s"$out/results")) shouldBe
        rows(SparkEntry.queries("q44_ivf_ann")(spark, sfDir))
    } finally {
      spark.conf.unset(conf)
      graft.operators.Features.clear(spark)
    }
  }

  test("usage errors and the output-dir contract exit 1") {
    Serve.run(Array(sfDir), Some(spark)) shouldBe 1
    Serve.run(Array(sfDir, "/tmp/x", "--retriever", "bm42"),
      Some(spark)) shouldBe 1
    Serve.run(Array(sfDir, "/tmp/x", "--queries"), Some(spark)) shouldBe 1
    val out = Files.createTempDirectory("serve_dup_").toString
    Serve.run(Array(sfDir, out), Some(spark)) shouldBe 1 // exists already
  }

  /** The lines of the single `part-*.json` under `dir`, trailing
    * newline kept as a final empty element so the comparison is
    * byte-exact. */
  private def partLines(dir: String): Seq[String] = {
    val parts = new File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    parts should have size 1
    Files.readString(parts.head.toPath).split("\n", -1).toSeq
  }

  /** What `coalesce(1).write.json` ships for the same frame. */
  private def sparkWriterLines(df: DataFrame): Seq[String] = {
    val ref = Files.createTempDirectory("serve_ref_").toString + "/spark"
    df.coalesce(1).write.json(ref)
    partLines(ref)
  }

  /** Visible entries of `dir` (checksum sidecars are dot-files). */
  private def visible(dir: String): Set[String] =
    new File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet

  test("the driver-side writer ships the bytes coalesce(1).write.json " +
      "writes, for every retriever and serve shape, in one part file " +
      "plus _SUCCESS with no temp dir left behind") {
    val dir = Files.createTempDirectory("serve_bytes_")
    def ids(name: String, body: String): String = {
      val f = dir.resolve(name)
      Files.writeString(f, body)
      f.toString
    }
    val panel = Similarity.servableQueryIds(spark, sfDir)
    val some = ids("some.txt", "1\n6\n999999\n")
    val unknown = ids("unknown.txt", "999999\n")
    val q144 = SparkEntry.queries("q144_rrf_fusion")(spark, sfDir)
    val cases: Seq[(String, Seq[String], DataFrame)] = Seq(
      ("dense", Seq("--retriever", "dense"),
        SparkEntry.queries("q38_cosine_topk")(spark, sfDir)),
      ("lsh", Seq("--retriever", "lsh"),
        SparkEntry.queries("q39_lsh_ann")(spark, sfDir)),
      ("ivf", Seq("--retriever", "ivf"),
        SparkEntry.queries("q44_ivf_ann")(spark, sfDir)),
      ("fused", Nil, q144),
      ("fused-ann", Seq("--retriever", "fused-ann"),
        Similarity.serveFusedAnnRequest(spark, sfDir, panel)),
      ("fused-ids", Seq("--queries", some),
        Similarity.serveFusedRequest(spark, sfDir, Seq(1L, 6L, 999999L))),
      ("ivf-ids", Seq("--retriever", "ivf", "--queries", some),
        Similarity.serveIvfRequest(spark, sfDir, Seq(1L, 6L, 999999L))),
      ("diversify", Seq("--diversify", "50"),
        Similarity.mmrRerank(spark, sfDir, q144, 50)),
      ("unknown-ids", Seq("--queries", unknown),
        Similarity.serveFusedRequest(spark, sfDir, Seq(999999L))))
    for ((name, flags, df) <- cases) withClue(s"$name: ") {
      val out = s"$dir/$name"
      Serve.run(Array(sfDir, out) ++ flags, Some(spark)) shouldBe 0
      visible(out) shouldBe Set("results")
      val parts = visible(s"$out/results")
      parts should have size 2
      parts should contain("_SUCCESS")
      val got = partLines(s"$out/results")
      got shouldBe sparkWriterLines(df)
      if (name == "unknown-ids") got shouldBe Seq("")
      else got.size should be > 1
    }

    val out = s"$dir/eval"
    Serve.run(Array(sfDir, out, "--eval"), Some(spark)) shouldBe 0
    visible(out) shouldBe Set("results", "eval")
    visible(s"$out/eval") should have size 2
    partLines(s"$out/eval") shouldBe sparkWriterLines(
      SparkEntry.queries("q168_retrieval_eval")(spark, sfDir))
  }

  test("an id-bounded fused serve is ONE SQL execution end to end: the " +
      "request's collect, and no write job for the artifact") {
    val dir = Files.createTempDirectory("serve_actions_")
    val qf = dir.resolve("queries.txt")
    Files.writeString(qf, "2\n")
    def serveOnce(name: String): Int =
      Serve.run(Array(sfDir, s"$dir/$name", "--queries", qf.toString),
        Some(spark))
    serveOnce("warm") shouldBe 0 // memoized panels + cached indexes
    val (code, executions) =
      SqlActionCounter.countedSqlExecutions(spark)(serveOnce("counted"))
    code shouldBe 0
    executions shouldBe 1
  }

  /** Runs `request` once to warm its panels and cached indexes, then
    * again counted: the rows, the Spark jobs started and the physical
    * plans executed (as string, and every node, AQE stages included). */
  private def requestShape(request: => DataFrame)
      : (Seq[Row], Int, Seq[String], Seq[SparkPlan]) = {
    request.collect()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
    val rows = try {
      val r = request.collect().toSeq
      SqlActionCounter.drainListenerBus(spark)
      r
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    val seen = plans.asScala.toSeq
    object Nodes extends AdaptiveSparkPlanHelper
    (rows, jobs.get, seen.map(_.toString), seen.flatMap(p => Nodes.collect(p) {
      case n => n }))
  }

  private def exchanges(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
    nodes.filter(n => n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec])

  test("the ivf request is eager and exchange-free: its one execution " +
      "heap-collapses per id and the (q_id, rank) order is applied on " +
      "the driver, not by a range-partitioned sort") {
    val (rows, jobs, plans, nodes) =
      requestShape(Similarity.serveIvfRequest(spark, sfDir, Seq(5L, 2L)))
    jobs shouldBe 1
    plans should not be empty
    exchanges(nodes) shouldBe empty
    all(plans.map(_.toLowerCase)) should not include "rangepartitioning"
    rows.map(r => (r.getLong(0), r.getInt(4))) shouldBe
      rows.map(r => (r.getLong(0), r.getInt(4))).sorted
    rows.map(_.getLong(0)).toSet shouldBe Set(2L, 5L)
  }

  test("the fused and fused-ann requests are ONE Spark job each with no " +
      "exchange of any kind: both legs feed per-partition top-k heaps " +
      "gathered on the driver") {
    for ((name, request) <- Seq[(String, Seq[Long] => DataFrame)](
        "fused" -> (ids => Similarity.serveFusedRequest(spark, sfDir, ids)),
        "fused-ann" -> (ids => Similarity.serveFusedAnnRequest(spark, sfDir, ids))))
      withClue(s"$name: ") {
        val (rows, jobs, plans, nodes) = requestShape(request(Seq(6L, 1L, 3L)))
        jobs shouldBe 1
        plans should not be empty
        exchanges(nodes) shouldBe empty
        all(plans.map(_.toLowerCase)) should not include "rangepartitioning"
        rows.map(_.getLong(0)).distinct shouldBe Seq(1L, 3L, 6L)
      }
  }

  test("the ivf request path follows a mid-session spark.graft.ivf.codebook " +
      "flip: served under 'label', then under 'trained', it answers q44's " +
      "trained rows, and fused-ann probes the trained cells") {
    val conf = Similarity.IvfCodebookConf
    val ids = Similarity.servableQueryIds(spark, sfDir)
    def q44() = SparkEntry.queries("q44_ivf_ann")(spark, sfDir).collect().toSeq
    try {
      spark.conf.set(conf, "label")
      val label = Similarity.serveIvfRequest(spark, sfDir, ids).collect().toSeq
      label shouldBe q44()
      Similarity.serveFusedAnnRequest(spark, sfDir, ids).collect()
      spark.conf.set(conf, "trained")
      val trained = q44()
      trained should not be label
      Similarity.servableQueryIds(spark, sfDir) shouldBe ids
      Similarity.serveIvfRequest(spark, sfDir, ids).collect().toSeq shouldBe trained
      val cellOf = Similarity.ivfAssigned(spark, sfDir)
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val ann = Similarity.serveFusedAnnRequest(spark, sfDir, ids).collect()
      ann.filter(_.getLong(2) > 0L).foreach { r =>
        cellOf(r.getLong(1)) shouldBe cellOf(r.getLong(0))
      }
    } finally {
      spark.conf.unset(conf)
      graft.operators.Features.clear(spark)
    }
  }

  /** Runs `request` once to warm, then again counted: Spark jobs,
    * stages submitted, the partitions its tasks ran on, and the shuffle
    * bytes written. */
  private def jobShape(request: => DataFrame): (Int, Int, Seq[Int], Long) = {
    request.collect()
    val jobs, stages = new java.util.concurrent.atomic.AtomicInteger()
    val shuffled = new java.util.concurrent.atomic.AtomicLong()
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        parts.add(e.taskInfo.partitionId)
        if (e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      request.collect()
      SqlActionCounter.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, stages.get, parts.asScala.toSeq.sorted, shuffled.get)
  }

  test("a warm request runs ONE job of one stage with no shuffle write, " +
      "and an ivf request for one id runs tasks only on the shards " +
      "holding its probed cell; Features.clear unpersists the shards") {
    for ((name, request) <- Seq[(String, Seq[Long] => DataFrame)](
        "fused" -> (ids => Similarity.serveFusedRequest(spark, sfDir, ids)),
        "ivf" -> (ids => Similarity.serveIvfRequest(spark, sfDir, ids)),
        "fused-ann" -> (ids => Similarity.serveFusedAnnRequest(spark, sfDir, ids))))
      withClue(s"$name: ") {
        val (jobs, stages, parts, shuffled) = jobShape(request(Seq(6L, 1L, 3L)))
        jobs shouldBe 1
        stages shouldBe 1
        parts should not be empty
        shuffled shouldBe 0L
      }
    val cellOf = Similarity.ivfAssigned(spark, sfDir)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val shards = Similarity.ivfShards(spark, sfDir)
    val cellsByShard = shards.rdd
      .mapPartitionsWithIndex((p, it) => it.map(s => p -> s.cells.toSet))
      .collect().toMap
    for (id <- Similarity.servableQueryIds(spark, sfDir)) withClue(s"id $id: ") {
      val holding = cellsByShard.filter(_._2.contains(cellOf(id))).keys.toSeq.sorted
      val (jobs, _, parts, _) = jobShape(Similarity.serveIvfRequest(spark, sfDir, Seq(id)))
      jobs shouldBe 1
      parts shouldBe holding
      holding.size should be < shards.rdd.getNumPartitions
    }
    // the shards live in the Features cache: clearing it unpersists them
    graft.operators.Features.clear(spark)
    spark.sparkContext.getPersistentRDDs.keySet should not contain shards.rdd.id
  }
}
