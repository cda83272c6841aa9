package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Curate, GraftSession, Main, Serve, SparkEntry, Tables, Train}
import graft.operators.{Dedup, Features, Similarity}
import graft.pipeline.{CentroidModel, CentroidScorer, Infer, Item, LabelDict, Media, Sources}

/** The benchmark's in-JVM half. Runs one workload against the program's
  * public entry points in the current directory (the run's work dir,
  * which holds the generated inputs), times it from outside, and writes
  * `harness.json`: end-to-end figures, per-layer figures (traced runs),
  * operation counts and the paths the output checks read.
  *
  * Usage: PerfBench <classify|serve> <seconds> <trace 0|1>
  *          [key=value ...]
  */
object PerfBench {

  private val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  private var spark: SparkSession = _
  /** Traced runs route file: URIs through a counting LocalFileSystem. */
  private var countFs = false

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, secsSince(t0))
  }
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Linear-interpolated quantile (q in [0,1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A new SparkContext and session; the previous one is stopped first,
    * so each set-up pays session start. */
  private def freshSession(): SparkSession = {
    if (spark != null) {
      Features.clearAll()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val b = GraftSession.builder(cores = cores)
    if (countFs)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    spark = b
      .config("spark.sql.warehouse.dir", "warehouse")
      .config("spark.local.dir", "sparktmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set up `n` times from scratch; returns each set-up's seconds. The
    * session of the last set-up stays open for the measured phase. */
  private def setUp(n: Int)(work: (SparkSession, Int) => Unit): Seq[Double] =
    (1 to n).map { r =>
      val t0 = System.nanoTime()
      work(freshSession(), r)
      secsSince(t0)
    }

  final class Out {
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val info = mutable.LinkedHashMap[String, String]()
    var attempted = 0
    var failed = 0
    def json: String = {
      def num(m: mutable.LinkedHashMap[String, Double]) = m.map { case (k, v) =>
        val s = if (v.isNaN || v.isInfinite) "null" else v.toString
        s""""$k": $s""" }.mkString("{", ", ", "}")
      def str(m: mutable.LinkedHashMap[String, String]) = m.map { case (k, v) =>
        s""""$k": "${v.replace("\\", "\\\\").replace("\"", "'")}"""" }
        .mkString("{", ", ", "}")
      s"""{"attempted": $attempted, "failed": $failed, "e2e": ${num(e2e)}, """ +
        s""""layer": ${num(layer)}, "info": ${str(info)}}"""
    }
  }

  /** Engine and JVM counters over a measured phase, per operation. */
  final class Window(trace: Boolean) {
    val probe = new Probe
    private var jit0, gc0, comp0, compNs0, fs0 = 0L
    private var storage: StorageSampler = _
    /** Registers the probe's listeners and starts the storage sampler. */
    def attach(s: SparkSession): Unit = {
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(probe)
      storage = new StorageSampler(s)
    }
    /** Waits for the listener bus to deliver every event, removes what
      * `attach` added; returns the sampled storage peak in MB. */
    def detach(s: SparkSession): Double = {
      org.apache.spark.PerfBenchBus.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(probe)
      s.listenerManager.unregister(probe)
      storage.stop()
    }
    def start(s: SparkSession): Unit = {
      if (trace) attach(s)
      jit0 = Jvm.jitMs; gc0 = Jvm.gcMs; comp0 = Jvm.compiles
      compNs0 = Jvm.compileNs; fs0 = Jvm.fsOps
    }
    def stop(s: SparkSession, ops: Int, out: Out): Unit = {
      if (!trace) return
      val storagePeak = detach(s)
      val n = ops.max(1).toDouble
      val p = probe
      val L = out.layer
      L("driver.actions") = p.get("actions") / n
      L("scan.documents") = p.get("docScans") / n
      L("driver.plan_s") = p.get("planMs") / 1e3 / n
      L("codegen.compiles") = (Jvm.compiles - comp0) / n
      L("codegen.compile_s") = (Jvm.compileNs - compNs0) / 1e9 / n
      L("jvm.jit_s") = (Jvm.jitMs - jit0) / 1e3 / n
      L("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3 / n
      L("sched.jobs") = p.get("jobs") / n
      L("sched.stages") = p.get("stages") / n
      L("sched.tasks") = p.get("tasks") / n
      L("sched.delay_s") = p.get("delayMs") / 1e3 / n
      L("exec.run_s") = p.get("runMs") / 1e3 / n
      L("exec.cpu_s") = p.get("cpuNs") / 1e9 / n
      L("exec.skew_max_over_median") = p.skew
      L("shuffle.write_bytes") = p.get("shuffleWrite") / n
      L("shuffle.read_bytes") = p.get("shuffleRead") / n
      L("spill.disk_bytes") = p.get("spillDisk") / n
      L("spill.memory_bytes") = p.get("spillMem") / n
      L("mem.peak_execution_mb") = p.get("peakExec") / 1048576.0
      L("io.input_bytes") = p.get("input") / n
      L("io.output_bytes") = p.get("output") / n
      L("driver.result_bytes") = p.get("result") / n
      L("fs.ops") = (Jvm.fsOps - fs0) / n
      L("cache.blocks_written") = p.get("blocksWritten") / n
      L("storage_peak_mb") = storagePeak
    }
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { runMain(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runMain(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg) = args.take(3)
    val kv = args.drop(3).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    countFs = trace
    val out = new Out
    val tracer = new Tracer(trace)
    val (_, total) = timed {
      workload match {
        case "classify"    => classify(seconds, trace, tracer, out)
        case "serve"       => serve(seconds, trace, tracer, out, kv)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    out.info("harness_s") = f"$total%.3f"
    if (trace) {
      tracer.writeJson("spans.json")
      out.layer("trace.spans") = tracer.count
      tracer.summary.foreach { case (n, cnt, tot, self) =>
        out.info(s"span.$n") = f"count=$cnt total_ms=$tot%.3f self_ms=$self%.3f"
      }
    }
    Files.writeString(Paths.get("harness.json"), out.json)
    if (spark != null) {
      Features.clearAll()
      spark.stop()
    }
  }

  // ------------------------------------------------------------ classify
  /** Classify jobs run before the measured window: the decode path is
    * still being JIT-compiled during them (they are in info.warmup_ms). */
  private val Warmup = 2
  /** Jobs offered at once, to two submitters, for the sustainable rate. */
  private val SatJobs = 4

  /** graft.Main --centroid over the generated manifest, repeated with a
    * cool-down as long as each job; then a backlog of jobs drained by two
    * concurrent submitters. */
  private def classify(seconds: Double, trace: Boolean, tr: Tracer,
      out: Out): Unit = {
    val setups = setUp(3) { (s, r) =>
      require(Train.run(Array("train", s"model$r.gcm"), Some(s)) == 0,
        "graft.Train failed")
    }
    val model = "model3.gcm"
    val lines = Files.list(Paths.get("manifest")).iterator.asScala.toSeq.sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala).filter(_.trim.nonEmpty)
    val nItems = lines.size
    val s = spark
    def job(path: String): Double = {
      val (code, dt) = timed(tr("graft.Main.run") {
        Main.run(Array("manifest", path, "--centroid", model), Some(s))
      })
      out.attempted += 1
      if (code != 0) out.failed += 1
      dt
    }
    val warm = (0 until Warmup).map(i => job(s"out/classify-w$i"))
    val w = new Window(trace)
    w.start(s)
    val times = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (times.size < 3 || secsSince(t0) < seconds) {
      times += job(s"out/classify-${times.size}")
      // On a shared 4-vCPU host, back-to-back jobs drew more CPU steal
      // and varied more from run to run than jobs with a cool-down.
      if (secsSince(t0) < seconds) Thread.sleep((times.last * 1e3).toLong)
    }
    val wall = secsSince(t0)
    w.stop(s, times.size, out)
    finish(out, setups, times.toSeq, nItems, wall)
    // Sustainable rate: a backlog of jobs, all due at once, drains at the
    // highest job rate the engine sustains (two jobs in flight).
    val pool = Executors.newFixedThreadPool(2)
    val (codes, drain) = timed((0 until SatJobs).map { j =>
      pool.submit(() => Main.run(Array("manifest", s"out/classify-sat-$j",
        "--centroid", model), Some(s)))
    }.map(_.get()))
    pool.shutdown()
    out.attempted += SatJobs
    out.failed += codes.count(_ != 0)
    out.e2e("max_rate_rps") = SatJobs / drain
    out.info("warmup_ms") = warm.map(x => f"${x * 1e3}%.0f").mkString(",")
    out.info("outputs") = ((0 until Warmup).map(i => s"out/classify-w$i") ++
      times.indices.map(i => s"out/classify-$i") ++
      (0 until SatJobs).map(j => s"out/classify-sat-$j")).mkString(",")
    out.info("items_per_op") = nItems.toString
    if (trace) {
      out.layer("pipeline.Sinks.writeTsv_s") = median(times.toSeq)
      val name = new java.io.File(model).getName
      val labels = LabelDict(CentroidModel.labelNamesOf(model).get)
      import s.implicits._
      def items = Sources.manifest(s, "manifest").map(l => Item(l, l))
      out.layer("pipeline.Sources.manifest_s") = median((1 to 3).map(_ =>
        timed(tr("pipeline.Sources.manifest") {
          noop(Sources.manifest(s, "manifest").toDF())
        })._2))
      out.layer("pipeline.Infer.classify_s") = median((1 to 3).map(_ =>
        timed(tr("pipeline.Infer.classify") {
          noop(Infer.classify(items, new CentroidScorer(name), labels).toDF())
        })._2))
      val imgs = lines.take(200).map(p => Files.readAllBytes(Paths.get(p)))
      out.layer("pipeline.Media.imageFeatures_us") = median((1 to 5).map { _ =>
        val (_, dt) = timed(tr("pipeline.Media.imageFeatures") {
          imgs.foreach(Media.imageFeatures) })
        dt * 1e6 / imgs.size
      })
      overhead(s, out, tr, 3) { i =>
        Main.run(Array("manifest", s"ovh/classify-$i", "--centroid", model),
          Some(s))
      }
      curateTraced(s, tr, out)
    }
  }

  // -------------------------------------------------------------- curate
  /** The write path, run inside classify's traced run: one cold
    * graft.Curate --with-quality --with-ledger --with-shards over the
    * generated tier `tier/` in a fresh session (users pay the feature
    * build on every run), counted by its own probe, then the funnel's
    * stages timed alone, each in a fresh session. */
  private def curateTraced(s: SparkSession, tr: Tracer, out: Out): Unit = {
    val dir = "tier"
    val probe = new Probe
    s.sparkContext.addSparkListener(probe)
    val fresh = s.newSession()
    fresh.listenerManager.register(probe)
    val (ok, dt) = timed(tr("graft.Curate.run") {
      try {
        Curate.run(fresh, dir, "out/curate-0", withQuality = true,
          withShards = true, withLedger = true)
        true
      } catch {
        case e: Throwable =>
          out.info("error.curate") = String.valueOf(e.getMessage).take(300)
          false
      } finally Features.clear(fresh)
    })
    org.apache.spark.PerfBenchBus.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(probe)
    out.attempted += 1
    if (!ok) out.failed += 1
    out.info("curate") = "out/curate-0"
    out.layer("graft.Curate.run_s") = dt
    out.layer("graft.Curate.driver.actions") = probe.get("actions")
    out.layer("graft.Curate.scan.documents") = probe.get("docScans")
    for (o <- Seq("corpus", "shards", "manifest", "ledger", "report"))
      out.layer(s"graft.Curate.write.${o}_s") = probe.writes
        .filter(_._1.endsWith(s"/$o")).values.map(_.get).sum / 1e9
    def inFresh(name: String)(f: SparkSession => Unit): Double = {
      val fresh = s.newSession()
      try timed(tr(name)(f(fresh)))._2 finally Features.clear(fresh)
    }
    out.layer("operators.Features.build_s") =
      inFresh("operators.Features.build") { f =>
        noop(Features.hashedShingles(f, dir))
        noop(Features.shingleSets(f, dir))
        noop(Features.scaledEmb(f, dir))
      }
    out.layer("operators.Dedup.funnelFlagsOver_s") =
      inFresh("operators.Dedup.funnelFlagsOver") { f =>
        noop(Dedup.funnelFlagsOver(Tables.documents(f, dir), f, dir))
      }
    out.layer("operators.Dedup.qualityRejects_s") =
      inFresh("operators.Dedup.qualityRejects")(f =>
        noop(Dedup.qualityRejects(f, dir)))
  }

  // --------------------------------------------------------------- serve
  /** Single-id requests through graft.Serve.run on one warm session, from
    * an open-loop generator: first at the reference rate (latency), then
    * above what the service can take (sustainable rate). */
  private def serve(seconds: Double, trace: Boolean, tr: Tracer, out: Out,
      kv: Map[String, String]): Unit = {
    val dir = kv("data")
    val refRate = kv("ref_rate").toDouble
    val overloadRate = kv("overload_rate").toDouble
    val overloadN = kv("overload_n").toInt
    var ids: Seq[Long] = Nil
    val setups = setUp(3) { (s, r) =>
      ids = Similarity.servableQueryIds(s, dir).sorted
      for (kind <- Seq("fused", "ivf")) {
        Files.writeString(Paths.get(s"warm-$r.txt"), s"${ids.head}\n")
        require(Serve.run(Array(dir, s"out/warm-$r-$kind", "--retriever", kind,
          "--queries", s"warm-$r.txt"), Some(s)) == 0, s"warm $kind request")
      }
    }
    val s = spark
    // Expected responses: the panel queries, written once for the check.
    SparkEntry.queries("q144_rrf_fusion")(s, dir).coalesce(1).write.json("expect/fused")
    SparkEntry.queries("q44_ivf_ann")(s, dir).coalesce(1).write.json("expect/ivf")
    val sched = Files.readAllLines(Paths.get("schedule.tsv")).asScala
      .filter(_.nonEmpty).map { l =>
        val Array(kind, u) = l.split('\t')
        (kind, ids(math.min(ids.size - 1, (u.toDouble * ids.size).toInt)))
      }.toIndexedSeq
    Files.createDirectories(Paths.get("req"))
    sched.zipWithIndex.foreach { case ((_, id), i) =>
      Files.writeString(Paths.get(s"req/$i.txt"), s"$id\n") }
    val pool = Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors().min(cores.toInt).max(1))
    var next = 0
    val records = mutable.ArrayBuffer[String]()
    /** One open-loop phase: `n` requests due every 1/rate s. Returns
      * (latency ms from due time, lateness ms of the generator, seconds
      * in which at least one request was in service). */
    def phase(tag: String, rate: Double, n: Int): (Seq[Double], Seq[Double], Double) = {
      val t0 = System.nanoTime() + 20_000_000L
      val futs = (0 until n).map { k =>
        val i = next % sched.size; next += 1
        val (kind, id) = sched(i)
        val due = t0 + (k * 1e9 / rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val late = (System.nanoTime() - due) / 1e6
        val path = s"out/$tag-$k"
        val f = pool.submit(() => {
          val start = System.nanoTime()
          val code = try tr(s"graft.Serve.run.$kind") {
            Serve.run(Array(dir, path, "--retriever", kind, "--queries",
              s"req/$i.txt"), Some(s))
          } catch { case _: Throwable => 1 }
          val end = System.nanoTime()
          (code, (end - due) / 1e6, (start, end))
        })
        records.synchronized(records += s"$path\t$kind\t$id")
        (f, late)
      }
      val res = futs.map { case (f, late) => (f.get(), late) }
      out.attempted += n
      val lat = res.map { case ((code, ms, _), _) =>
        if (code != 0) { out.failed += 1; Double.PositiveInfinity } else ms }
      (lat, res.map(_._2), busySeconds(res.map(_._1._3)))
    }
    val w = new Window(trace)
    w.start(s)
    val nRef = math.max(4, (refRate * seconds).round.toInt)
    val (lat, late, busy) = phase("ref", refRate, nRef)
    w.stop(s, nRef, out)
    // Sustainable rate: offer more than the service can take; the backlog
    // then drains at the service's own rate, the highest open-loop rate
    // at which the backlog does not grow.
    val (_, sat) = timed(phase("overload", overloadRate, overloadN))
    val maxRate = overloadN / sat
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    out.e2e("setup_s") = median(setups)
    out.e2e("latency_p50_ms") = quantile(lat, 0.5)
    out.e2e("latency_p90_ms") = quantile(lat, 0.9)
    out.e2e("items_per_s") = nRef / busy
    out.e2e("max_rate_rps") = maxRate
    out.layer("serve.generator_late_p90_ms") = quantile(late, 0.9)
    out.info("generator_late_max_ms") = f"${late.max}%.2f"
    Files.writeString(Paths.get("requests.tsv"), records.mkString("", "\n", "\n"))
    out.info("outputs") = "requests.tsv"
    if (trace) {
      val id = ids.head
      def req(kind: String) =
        if (kind == "fused") Similarity.serveFusedRequest(s, dir, Seq(id))
        else Similarity.serveIvfRequest(s, dir, Seq(id))
      for (kind <- Seq("fused", "ivf")) {
        val fn = if (kind == "fused") "serveFusedRequest" else "serveIvfRequest"
        val bc = (1 to 3).map { _ =>
          val (df, b) = timed(tr(s"operators.Similarity.$fn.build")(req(kind)))
          val (_, c) = timed(tr(s"operators.Similarity.$fn.collect")(df.collect()))
          (b * 1e3, c * 1e3)
        }
        out.layer(s"operators.Similarity.$fn.build_ms") = median(bc.map(_._1))
        out.layer(s"operators.Similarity.$fn.collect_ms") = median(bc.map(_._2))
      }
      Files.writeString(Paths.get("cli.txt"), s"$id\n")
      val cliMs = overhead(s, out, tr, 3) { i =>
        Serve.run(Array(dir, s"ovh/serve-$i", "--queries", "cli.txt"), Some(s))
      }
      out.layer("graft.Serve.cli_ms") = cliMs -
        out.layer("operators.Similarity.serveFusedRequest.build_ms") -
        out.layer("operators.Similarity.serveFusedRequest.collect_ms")
      suiteSweep(s, dir, tr, out)
    }
  }

  // --------------------------------------------------------- query suite
  /** One sweep over the query list (`order.txt`, seeded order) through
    * the noop sink, timing each query and charging it to its operator
    * family; then each query's rows as parquet plus its oracle SQL under
    * `out/suite` for the DuckDB check. Part of serve's traced run: the
    * same tables, the same warm session. */
  private def suiteSweep(s: SparkSession, dir: String, tr: Tracer,
      out: Out): Unit = {
    val order = Files.readAllLines(Paths.get("order.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val family: Map[String, String] = Seq(
      "Relational" -> graft.operators.Relational.queries,
      "Events" -> graft.operators.Events.queries,
      "TextAnalysis" -> graft.operators.TextAnalysis.queries,
      "Dedup" -> graft.operators.Dedup.queries,
      "Similarity" -> graft.operators.Similarity.queries,
      "Pipeline" -> graft.operators.Pipeline.queries,
      "Multimodal" -> graft.operators.Multimodal.queries)
      .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
    val sweep = mutable.LinkedHashMap[String, Double]()
    var build = 0.0
    order.foreach { name =>
      val f = family(name)
      val (_, dt) = timed(tr(s"operators.$f.query") {
        val (df, b) = timed(tr("driver.build")(SparkEntry.queries(name)(s, dir)))
        build += b
        noop(df)
      })
      sweep(f) = sweep.getOrElse(f, 0.0) + dt
    }
    out.layer("driver.build_s") = build / order.size
    for (f <- Seq("Relational", "Events", "TextAnalysis", "Dedup",
        "Similarity", "Pipeline", "Multimodal"))
      out.layer(s"operators.$f.sweep_s") = sweep.getOrElse(f, 0.0)
    val oracle = SparkEntry.oracleSql
    order.foreach { name =>
      SparkEntry.queries(name)(s, dir).coalesce(1).write.parquet(s"out/suite/$name")
    }
    def q(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.writeString(Paths.get("out/suite/oracle_sql.json"),
      order.filter(oracle.contains).map(n => s"${q(n)}: ${q(oracle(n))}")
        .mkString("{", ",\n", "}"))
    out.info("suite") = "out/suite"
  }

  /** Length in s of the union of [start, end] intervals (ns). */
  def busySeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (from, to) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > to) { if (to > from) total += to - from; from = a; to = b }
      else to = math.max(to, b)
    }
    if (to > from) total += to - from
    total / 1e9
  }

  /** End-to-end figures of a closed-loop workload. */
  private def finish(out: Out, setups: Seq[Double], times: Seq[Double],
      items: Int, wall: Double): Unit = {
    val ms = times.map(_ * 1e3)
    out.e2e("setup_s") = median(setups)
    out.e2e("items_per_s") = items / median(times)
    out.e2e("latency_p50_ms") = quantile(ms, 0.5)
    out.e2e("latency_p90_ms") = quantile(ms, 0.9)
    out.info("ops") = times.size.toString
    out.info("op_ms") = ms.map(x => f"$x%.0f").mkString(",")
    out.info("wall_s") = f"$wall%.3f"
    out.info("setup_all_s") = setups.map(x => f"$x%.3f").mkString(",")
  }

  /** Tracing overhead: the same operation alternated `n` times traced
    * (spans, filesystem counting, the probe's listeners drained at the
    * end, the storage sampler) and untraced (none of them; the counting
    * filesystem stays installed but does not count). Reported as traced
    * minus untraced median, in ms per operation. Returns the untraced
    * operation's median ms. */
  private def overhead(s: SparkSession, out: Out, tr: Tracer, n: Int)(
      op: Int => Any): Double = {
    val on = mutable.ArrayBuffer[Double](); val off = mutable.ArrayBuffer[Double]()
    (0 until 2 * n).foreach { i =>
      val traced = i % 2 == 0
      tr.enabled = traced
      CountingLocalFileSystem.counting = traced
      val (_, dt) = timed {
        val w = new Window(true)
        if (traced) w.attach(s)
        op(i)
        if (traced) w.detach(s)
      }
      (if (traced) on else off) += dt * 1e3
    }
    tr.enabled = true
    CountingLocalFileSystem.counting = true
    out.layer("trace.overhead_ms") = median(on.toSeq) - median(off.toSeq)
    median(off.toSeq)
  }
}
