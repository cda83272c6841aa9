package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** THE DRIFT KERNELS — one definition per statistic of "per-key cells
  * vs the pooled marginal", shared by every batch query of the drift
  * family and by the stream monitors that replay it. Each statistic is
  * one batch kernel (a combinable per-(key, cell) count plus a small
  * reduce, the MapReduce shape) and one scalar replay over the same
  * counts; the specs pin the two bit-equal (DivergenceSpec), so stream
  * ≡ batch holds by shared code rather than by parallel copies.
  *
  *  - [[psi]] / [[psiU]]: Population Stability Index over a FIXED
  *    domain of cells `0 until domain`, both sides Laplace-smoothed
  *    (+1 per cell), each cell's (p_s − p_c)·ln(p_s/p_c) floored to
  *    micro-nats, summed as exact int64. Callers: q117 (length
  *    buckets), q126 (labels); PsiStreams, ModelDriftStreams, Monitor.
  *  - [[ecdf]] / [[ksEmdU]]: exact two-sample ECDF distances over the
  *    merged value domain, both ECDFs in integer micro-units: KS = max
  *    gap, EMD = Σ gap·(next_v − v). Callers: q154 (KS), q176, q182,
  *    q185 (EMD); KsStreams, ConfStreams.
  *
  * Callers keep only how they build their cells, their output names
  * and their ordering. */
object Divergence {

  /** Per-key PSI against the pooled marginal: `cells` holds one row
    * per item with a `key` and a long `cell` in `0 until domain` (other
    * columns are pruned). Returns (key, n, psi_u). Items whose cell
    * lies outside the domain count towards n but contribute no cell
    * (q126's contract).
    *
    * Scale posture: ONE partial-aggregable groupBy over keys × cells;
    * the pooled marginal re-aggregates that frame (no second scan) and
    * is broadcast with its total; the key × domain frame is generated,
    * never shuffled. Output is keys-sized. */
  def psi(cells: DataFrame, key: String, cell: String,
      domain: Long): DataFrame = {
    val counts = cells.groupBy(col(key), col(cell))
      .agg(count(lit(1)).as("cnt"))
    val stot = counts.groupBy(col(key)).agg(sum(col("cnt")).as("n_s"))
    val corp = counts.groupBy(col(cell)).agg(sum(col("cnt")).as("ccnt"))
    val ctot = corp.agg(sum(col("ccnt")).as("n_c"))
    // Full fixed domain per key: zero cells carry PSI mass too.
    stot.select(col(key), col("n_s"),
        explode(sequence(lit(0L), lit(domain - 1L))).as(cell))
      .join(counts, Seq(key, cell), "left")
      .join(broadcast(corp), Seq(cell), "left")
      .crossJoin(broadcast(ctot))
      .withColumn("ps",
        (coalesce(col("cnt"), lit(0L)) + 1L).cast(DoubleType) /
          (col("n_s") + domain).cast(DoubleType))
      .withColumn("pc",
        (coalesce(col("ccnt"), lit(0L)) + 1L).cast(DoubleType) /
          (col("n_c") + domain).cast(DoubleType))
      .withColumn("contrib_u",
        floor(lit(1000000.0) * (col("ps") - col("pc")) *
          log(col("ps") / col("pc"))).cast("long"))
      .groupBy(col(key))
      .agg(max(col("n_s")).as("n"), sum(col("contrib_u")).as("psi_u"))
  }

  /** [[psi]]'s cell arithmetic for one key: `counts` and `ref` index
    * the same fixed domain. The identical double-op sequence the batch
    * plan runs (one subtraction, one ln of a correctly-rounded ratio,
    * left-associated multiply, micro-floor, exact int64 sum), and the
    * same ln: Catalyst's `log` evaluates `StrictMath.log`, whereas
    * `math.log` is a HotSpot intrinsic that may differ in the last bit. */
  def psiU(counts: Array[Long], ref: Array[Long]): Long = {
    require(counts.length == ref.length, "cell domains differ")
    val k = counts.length
    val nS = counts.sum
    val nC = ref.sum
    var acc = 0L
    var i = 0
    while (i < k) {
      val ps = (counts(i) + 1L).toDouble / (nS + k).toDouble
      val pc = (ref(i) + 1L).toDouble / (nC + k).toDouble
      acc += math.floor(1000000.0 * (ps - pc) * StrictMath.log(ps / pc)).toLong
      i += 1
    }
    acc
  }

  /** Per-key exact KS and 1-D Wasserstein distances against the pooled
    * marginal: `cells` holds one row per item with a `key` and an
    * integral `value` (other columns are pruned). Returns (key, n,
    * ks_u, emd_u); a caller that selects one statistic lets column
    * pruning drop the other.
    *
    * Determinism: integer `div` on cumulative counts, no float
    * accumulation, so no boundary row can flip engines. Int64 headroom:
    * the 10⁶-scaled cumulative counts hold to ~9·10¹² rows; |gap| ≤ 10⁶
    * per grid row, so emd_u ≤ 10⁶ · value span.
    *
    * Scale posture: the only input-sized operation is the per-(key,
    * value) count (one partial-aggregable shuffle); the pooled marginal
    * re-aggregates that frame, its ECDF is the one global window over
    * the |values|-sized domain, and the domain side is broadcast into
    * the |keys| × |values| grid. The running sum and the `lead` gap
    * share one key-partitioned window order, so Spark plans them as ONE
    * Window node over the grid. */
  def ecdf(cells: DataFrame, key: String, value: String): DataFrame = {
    val sv = cells.groupBy(col(key), col(value))
      .agg(count(lit(1)).as("cnt"))
    val stot = sv.groupBy(col(key)).agg(sum(col("cnt")).as("stot"))
    val cv = sv.groupBy(col(value)).agg(sum(col("cnt")).as("ccnt"))
    val upTo = (w: WindowSpec) =>
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cc = cv.withColumn("ccum",
        sum(col("ccnt")).over(upTo(Window.orderBy(col(value)))))
      .select(col(value), col("ccum"))
    val ctot = cv.agg(sum(col("ccnt")).as("ctot"))
    val wKey = Window.partitionBy(col(key)).orderBy(col(value))
    val dev = abs(col("f_s") - col("f_c"))
    // The |keys| × |values| ECDF grid. The domain side is broadcast
    // explicitly: derived-frame stats are unknown to the planner, and
    // an unhinted cross join over unknowns degrades to CartesianProduct.
    stot.crossJoin(broadcast(cc))
      .join(sv, Seq(key, value), "left").na.fill(0L, Seq("cnt"))
      .withColumn("scum", sum(col("cnt")).over(upTo(wKey)))
      .withColumn("gap",
        coalesce(lead(col(value), 1).over(wKey), col(value)) - col(value))
      .crossJoin(broadcast(ctot))
      .withColumn("f_s", expr("(1000000 * scum) div stot"))
      .withColumn("f_c", expr("(1000000 * ccum) div ctot"))
      .groupBy(col(key))
      .agg(max(col("stot")).as("n"), max(dev).as("ks_u"),
        sum(dev * col("gap")).as("emd_u"))
  }

  /** [[ecdf]]'s arithmetic for one key: walk the merged sorted value
    * domain of `counts` and `ref`, cumulate both sides, and read the
    * max micro-unit gap (KS) and Σ gap·(next_v − v) (EMD, 0 past the
    * domain end) off the same walk. Returns (ks_u, emd_u); (0, 0) when
    * either side is empty. */
  def ksEmdU(counts: Map[Long, Long], ref: Seq[(Long, Long)]): (Long, Long) = {
    val stot = counts.valuesIterator.sum
    val rtot = ref.iterator.map(_._2).sum
    if (stot == 0L || rtot == 0L) return (0L, 0L)
    val refMap = ref.toMap
    val dom = (counts.keySet ++ refMap.keySet).toSeq.sorted
    var scum = 0L; var rcum = 0L; var ks = 0L; var emd = 0L
    dom.indices.foreach { i =>
      val v = dom(i)
      scum += counts.getOrElse(v, 0L)
      rcum += refMap.getOrElse(v, 0L)
      val d = math.abs(1000000L * scum / stot - 1000000L * rcum / rtot)
      if (d > ks) ks = d
      if (i + 1 < dom.size) emd += d * (dom(i + 1) - v)
    }
    (ks, emd)
  }
}
