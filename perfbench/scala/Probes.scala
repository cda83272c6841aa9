package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters read from outside the program: a SparkListener
  * (scheduler, executors, shuffle, spill, block manager), a
  * QueryExecutionListener (actions, planning phases, scans, writes), a
  * counting local filesystem and the JVM's MXBeans. Nothing in the
  * program is instrumented; every number here comes off a public hook.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val c = TrieMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong()).addAndGet(v)
  private def max(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong()).accumulateAndGet(v, math.max)
  private val stageRuns = TrieMap[Int, ArrayBuffer[Long]]()
  /** write path -> accumulated command time (ns) */
  val writes = TrieMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    add("runMs", m.executorRunTime)
    add("cpuNs", m.executorCpuTime)
    add("delayMs", math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime))
    add("shuffleWrite", m.shuffleWriteMetrics.bytesWritten)
    add("shuffleRead", m.shuffleReadMetrics.totalBytesRead)
    add("spillDisk", m.diskBytesSpilled)
    add("spillMem", m.memoryBytesSpilled)
    add("input", m.inputMetrics.bytesRead)
    add("output", m.outputMetrics.bytesWritten)
    add("result", m.resultSize)
    max("peakExec", m.peakExecutionMemory)
    val buf = stageRuns.getOrElseUpdate(e.stageId, ArrayBuffer[Long]())
    buf.synchronized(buf += m.executorRunTime)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) add("blocksWritten", 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    add("actions", 1)
    add("planMs", qe.tracker.phases.values.map(_.durationMs).sum)
    add("docScans", scans(qe.executedPlan).count(
      _.relation.location.rootPaths.exists(_.toString.contains("documents"))))
    qe.logical.collectFirst { case w: InsertIntoHadoopFsRelationCommand =>
      w.outputPath.toString
    }.foreach(p =>
      writes.getOrElseUpdate(p, new AtomicLong()).addAndGet(durationNs))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add("actionFailures", 1)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val own = p match {
      case s: FileSourceScanExec     => Seq(s)
      case a: AdaptiveSparkPlanExec  => scans(a.executedPlan)
      case q: QueryStageExec         => scans(q.plan)
      case m: InMemoryTableScanExec  => Nil // cached: not a re-scan
      case _                         => Nil
    }
    own ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  def get(k: String): Long = c.get(k).map(_.get).getOrElse(0L)

  /** max/median task run time of the stage with the largest total run
    * time — the straggler ratio of the job's heaviest stage. */
  def skew: Double = {
    val big = stageRuns.values.map(b => b.synchronized(b.toVector))
      .filter(_.size >= 2)
    if (big.isEmpty) 1.0
    else {
      val s = big.maxBy(_.sum).sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
  }
}

object Jvm {
  def jitMs: Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime else 0L
  }
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }
  /** Janino compiles so far (the count of Spark's compile-time histogram). */
  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount
  /** Total Janino compile time so far, in ns: the code generator's own
    * running sum over every compile (the histogram's mean is taken over a
    * decaying sample, so count x mean is not a sum). */
  def compileNs: Long = org.apache.spark.sql.catalyst.expressions.codegen
    .CodeGenerator.compileTime
  def fsOps: Long = CountingLocalFileSystem.ops.get
}

/** Peak block-manager storage memory, sampled every 10 ms plus on demand. */
final class StorageSampler(spark: SparkSession) {
  @volatile private var peak = 0L
  @volatile private var running = true
  def sample(): Unit = {
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (mx, free) => mx - free }.sum
    if (used > peak) peak = used
  }
  private val t = new Thread(() => {
    while (running) {
      try sample() catch { case _: Exception => () }
      Thread.sleep(10)
    }
  }, "perfbench-storage-sampler")
  t.setDaemon(true)
  t.start()
  def stop(): Double = {
    running = false
    t.join()
    sample()
    peak / 1048576.0
  }
}

/** Spans kept in memory and written out at the end of a traced run. */
final class Tracer(@volatile var enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      var endNs: Long = 0L)
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parentStack = stack.get
      val s = Span(ids.incrementAndGet(), parentStack.headOption.getOrElse(0L),
        name, System.nanoTime())
      stack.set(s.id :: parentStack)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.set(parentStack)
        spans.synchronized(spans += s)
      }
    }

  def count: Int = spans.synchronized(spans.size)

  /** Per-name (count, total ms, self ms). */
  def summary: Seq[(String, Int, Double, Double)] = {
    val all = spans.synchronized(spans.toVector)
    val childNs = all.groupBy(_.parent).map { case (p, ss) =>
      p -> ss.map(s => s.endNs - s.startNs).sum }
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s =>
        (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum
      (n, ss.size, tot / 1e6, self / 1e6)
    }
  }

  def writeJson(path: String): Unit = {
    val all = spans.synchronized(spans.toVector)
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.startNs).map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Hadoop's local filesystem, counting metadata and open/create calls.
  * The local filesystem keeps no operation statistics of its own, so
  * traced runs install this as `fs.file.impl`. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  private def op[T](f: => T): T = {
    if (CountingLocalFileSystem.counting) CountingLocalFileSystem.ops.incrementAndGet()
    f
  }
  override def getFileStatus(p: Path): FileStatus = op(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = op(super.listStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    op(super.open(p, bufferSize))
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op(super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    op(super.mkdirs(p, permission))
  override def delete(p: Path, recursive: Boolean): Boolean =
    op(super.delete(p, recursive))
  override def rename(src: Path, dst: Path): Boolean = op(super.rename(src, dst))
}

object CountingLocalFileSystem {
  val ops = new AtomicLong()
  /** Off while the tracing-overhead measurement runs an operation untraced. */
  @volatile var counting = true
}
