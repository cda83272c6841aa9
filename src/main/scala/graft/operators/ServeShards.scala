package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.TopK

/** The serving index of the id-bounded requests
  * ([[Similarity.serveFusedRequest]], [[Similarity.serveIvfRequest]],
  * [[Similarity.serveFusedAnnRequest]]) as shards pinned in executor
  * storage, and the one scatter–gather job that answers a request from
  * them (REPOSE's per-partition index, merged on per-partition top-k).
  *
  * A shard is one partition of an index frame as primitive arrays: ids,
  * fixed-point vectors and exact squared norms (plus each row's cell in
  * the cell-partitioned IVF index), and a term → (doc_ids, c_u) postings
  * map. Shards are persisted deserialized, so a task reads them with no
  * decoding; they are registered in the [[Features]] value cache, so
  * [[Features.clear]] unpersists them.
  *
  * A request is ONE `runJob` over the shards it needs, its queries
  * captured in the task closure: no DataFrame is built, analyzed or
  * compiled per request. Each task scores its shard with the batch plans'
  * exact arithmetic ([[cosine]]; the lexical leg's long sum of `c_u`) and
  * returns at most k rows per (leg, q_id); the driver merges them through
  * the same [[TopK.Buf]]. The job runs on the calling thread inside
  * `SQLExecution.withNewExecutionId`, so it carries an execution id, SQL
  * and query-execution listeners see it, `spark.driver.maxResultSize`
  * guards its task results, and the caller's `spark.scheduler.pool`
  * applies.
  */
private[graft] object ServeShards {

  val SemLeg = 0L
  val LexLeg = 1L

  /** One index partition. `sv(i)` is null where the row's vector is (its
    * `n2(i)` is then unused); `cells` is null on a corpus shard;
    * `postings` is empty on a vector-only shard. */
  final class Shard(
      val ids: Array[Long],
      val sv: Array[Array[Long]],
      val n2: Array[Long],
      val cells: Array[Int],
      val postings: Map[String, (Array[Long], Array[Long])]) extends Serializable

  /** A requested query of the semantic leg: scaled vector, exact squared
    * norm, and its IVF cell (read only on cell-partitioned shards). */
  final case class Query(qId: Long, qv: Array[Long], qn2: Long, cell: Int)

  /** One kept candidate; `score` is null exactly where the batch plan's
    * score is. */
  final case class Hit(leg: Long, qId: Long, id: Long, score: java.lang.Double)

  /** The shards of one index and, for the IVF index, the partitions
    * holding each cell. */
  final case class ShardSet(rdd: RDD[Shard], cellParts: Map[Int, Seq[Int]])
      extends Features.Releasable {
    def all: Seq[Int] = 0 until rdd.getNumPartitions
    def holding(qs: Seq[Query]): Seq[Int] =
      qs.flatMap(q => cellParts.getOrElse(q.cell, Nil)).distinct.sorted
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  // ------------------------------------------------------------ build
  /** Corpus shards for the fused retriever: vector rows `(vec_id, sv,
    * n2)` and posting rows `(w, doc_id, c_u)` hash-partitioned together
    * on their id, so every posting of a document sits in one shard (the
    * lexical leg's per-(q_id, doc_id) sum completes inside it). Computed
    * by the first request that reads them. */
  def corpusShards(spark: SparkSession, vectors: DataFrame,
      postings: DataFrame): ShardSet = {
    val rows = vectors
      .select(col("vec_id").as("id"), col("sv"), col("n2"),
        lit(null).cast("string").as("w"), lit(null).cast("long").as("c_u"))
      .unionByName(postings.filter(col("w").isNotNull)
        .select(col("doc_id").as("id"), lit(null).cast("array<bigint>").as("sv"),
          lit(null).cast("long").as("n2"), col("w"), col("c_u")))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    val rdd = rows.queryExecution.toRdd
      .mapPartitions(it => Iterator(shardOf(it, withCell = false)))
    ShardSet(rdd.persist(StorageLevel.MEMORY_AND_DISK), Map.empty)
  }

  /** IVF shards over rows `(vec_id, sv, n2, cell)` partitioned by cell:
    * materialized at build, in the one job that also reports which
    * partitions hold which cell. */
  def ivfShards(spark: SparkSession, index: DataFrame): ShardSet = {
    val rdd = index.queryExecution.toRdd
      .mapPartitions(it => Iterator(shardOf(it, withCell = true)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cells =
      try spark.sparkContext.runJob(rdd,
        (it: Iterator[Shard]) => it.flatMap(_.cells.distinct).toArray)
      catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    ShardSet(rdd, cells.zipWithIndex
      .flatMap { case (cs, p) => cs.map(_ -> p) }
      .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).toSeq })
  }

  /** One shard from the IVF index's rows `(id, sv, n2, cell)` or the
    * corpus rows `(id, sv, n2, w, c_u)`, where a row with a term is a
    * posting of document `id` and any other a vector. Row buffers are
    * reused, so every value is copied out. `c_u` is never null: it is
    * computed from non-null tf, dl and df. */
  private def shardOf(rows: Iterator[InternalRow], withCell: Boolean): Shard = {
    val ids = mutable.ArrayBuilder.make[Long]
    val sv = mutable.ArrayBuilder.make[Array[Long]]
    val n2 = mutable.ArrayBuilder.make[Long]
    val cells = mutable.ArrayBuilder.make[Int]
    val byTerm = mutable.HashMap.empty[String,
      (mutable.ArrayBuilder[Long], mutable.ArrayBuilder[Long])]
    rows.foreach { r =>
      if (!withCell && !r.isNullAt(3)) {
        val (docs, cus) = byTerm.getOrElseUpdate(r.getUTF8String(3).toString,
          (mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long]))
        docs += r.getLong(0)
        cus += r.getLong(4)
      } else {
        ids += r.getLong(0)
        sv += (if (r.isNullAt(1)) null else r.getArray(1).toLongArray())
        n2 += (if (r.isNullAt(2)) 0L else r.getLong(2))
        if (withCell) cells += r.getInt(3)
      }
    }
    new Shard(ids.result(), sv.result(), n2.result(),
      if (withCell) cells.result() else null,
      byTerm.iterator.map { case (w, (d, c)) => w -> (d.result(), c.result()) }.toMap)
  }

  // ------------------------------------------------------- arithmetic
  /** `graft_dot`: the wrap-around long dot over the common prefix. */
  def dot(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a(i) * b(i)
      i += 1
    }
    acc
  }

  /** The batch plans' `cosine(graft_dot(a, b), n2a, n2b)`, i.e.
    * `dot.toDouble / sqrt(n2a.toDouble * n2b.toDouble)`, with Catalyst's
    * `Divide` semantics: a null vector gives null; a zero denominator
    * (either sign) gives null, or under ANSI the same DIVIDE_BY_ZERO
    * error Catalyst raises. */
  def cosine(a: Array[Long], n2a: Long, b: Array[Long], n2b: Long,
      ansi: Boolean): java.lang.Double = {
    val den = math.sqrt(n2a.toDouble * n2b.toDouble)
    if (a == null || b == null) null
    else if (den == 0.0) {
      // Catalyst's own Divide raises its error (the class is Spark-private)
      if (ansi) Divide(Literal(1.0), Literal(0.0), EvalMode.ANSI).eval()
      null
    } else java.lang.Double.valueOf(dot(a, b).toDouble / den)
  }

  // ---------------------------------------------------------- top-k
  private val OrdType = StructType(Seq(StructField("score", DoubleType),
    StructField("neg_id", LongType)))

  /** k best candidates per (leg, q_id) in [[TopK.Buf]]s ordered by the
    * interpreted ordering of `struct(score, −id)` — `graft_topk`'s order,
    * so ties, NaN, −0.0 and null rank as in the batch plans' `(score
    * DESC, id ASC)` windows. */
  private[graft] final class Heaps(k: Int) {
    private val ordering = TypeUtils.getInterpretedOrdering(OrdType)
    private val bufs = mutable.LinkedHashMap.empty[(Long, Long), TopK.Buf]

    def offer(leg: Long, qId: Long, id: Long, score: java.lang.Double): Unit = {
      val o = InternalRow(score, -id)
      val b = bufs.getOrElseUpdate((leg, qId), new TopK.Buf(ordering))
      if (b.admits(o, k)) b.offer(o, Hit(leg, qId, id, score), k)
    }

    /** Kept hits per (leg, q_id), best first. */
    def best: Map[(Long, Long), Seq[Hit]] =
      bufs.iterator.map { case (g, b) =>
        g -> b.sortedValuesDesc.toSeq.map(_.asInstanceOf[Hit]) }.toMap
  }

  /** One task: the shard's k best per (leg, q_id). The semantic leg
    * scores the shard's vectors if the shard is of the kind the request
    * reads (`semOnIvf`: cell-partitioned shards, each vector against the
    * queries of its own cell; otherwise corpus shards, against every
    * query); the lexical leg sums `c_u` per (q_id, doc_id) over the
    * postings of the requested terms. */
  private def scoreShard(s: Shard, qs: Array[Query],
      terms: Map[String, Array[Long]], semOnIvf: Boolean, k: Int,
      ansi: Boolean): Array[Hit] = {
    val heaps = new Heaps(k)
    if ((s.cells != null) == semOnIvf) {
      var i = 0
      while (i < s.ids.length) {
        var j = 0
        while (j < qs.length) {
          val q = qs(j)
          if (s.cells == null || s.cells(i) == q.cell)
            heaps.offer(SemLeg, q.qId, s.ids(i),
              cosine(s.sv(i), s.n2(i), q.qv, q.qn2, ansi))
          j += 1
        }
        i += 1
      }
    }
    if (terms.nonEmpty && s.postings.nonEmpty) {
      val sums = mutable.HashMap.empty[(Long, Long), Long]
      for ((w, owners) <- terms; (docs, cus) <- s.postings.get(w)) {
        var i = 0
        while (i < docs.length) {
          owners.foreach { q =>
            val key = (q, docs(i))
            val acc = sums.getOrElse(key, 0L)
            sums(key) = if (ansi) Math.addExact(acc, cus(i)) else acc + cus(i)
          }
          i += 1
        }
      }
      sums.foreach { case ((q, d), u) =>
        heaps.offer(LexLeg, q, d, java.lang.Double.valueOf(u.toDouble)) }
    }
    heaps.best.valuesIterator.flatten.toArray
  }

  // ---------------------------------------------------------- request
  private val HitSchema = StructType(Seq(
    StructField("leg", LongType, nullable = false),
    StructField("q_id", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType)))

  /** The query execution every request job runs under: one planned
    * empty relation of the gathered rows' schema per session, so a
    * request plans nothing. */
  private def execution(spark: SparkSession): QueryExecution =
    Features.cachedValue(spark, None, "serveShardsExecution") {
      val qe = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        HitSchema).queryExecution
      qe.executedPlan
      qe
    }

  /** Run ONE job over the listed partitions of each shard set and
    * return the k best (id, score) per (leg, q_id), best first. The
    * driver receives at most shards × |queries| × legs × k rows. No job
    * runs when no partition is listed or there is nothing to score. */
  def gather(spark: SparkSession, parts: Seq[(ShardSet, Seq[Int])],
      queries: Seq[Query], terms: Map[String, Array[Long]],
      semOnIvf: Boolean, k: Int): Map[(Long, Long), Seq[(Long, java.lang.Double)]] = {
    val live = parts.filter(_._2.nonEmpty)
    if (live.isEmpty || (queries.isEmpty && terms.isEmpty)) return Map.empty
    val sc = spark.sparkContext
    val rdd = if (live.size == 1) live.head._1.rdd else sc.union(live.map(_._1.rdd))
    val offsets = live.map(_._1.rdd.getNumPartitions).scanLeft(0)(_ + _)
    val partitions = live.zip(offsets).flatMap { case ((_, ps), off) => ps.map(_ + off) }
    val qs = queries.toArray
    val ansi = spark.sessionState.conf.ansiEnabled
    val perShard = SQLExecution.withNewExecutionId(execution(spark), Some("collect")) {
      sc.runJob(rdd, (it: Iterator[Shard]) =>
        it.flatMap(scoreShard(_, qs, terms, semOnIvf, k, ansi)).toArray, partitions)
    }
    val merged = new Heaps(k)
    perShard.foreach(_.foreach(h => merged.offer(h.leg, h.qId, h.id, h.score)))
    merged.best.map { case (g, hs) => g -> hs.map(h => (h.id, h.score)) }
  }
}
