package graft.operators

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The serve shards' scorer and heap against the batch plans they
  * replace on the request path: [[ServeShards.cosine]] must equal
  * Catalyst's `cosine(graft_dot(a, b), n2a, n2b)` bit for bit, null where
  * it is null and failing where it fails, under either ANSI setting; and
  * [[ServeShards.Heaps]], per shard and merged on the driver, must keep
  * the first k rows of a Catalyst `(score DESC, id ASC)` sort. Inputs
  * are seeded ScalaCheck draws, so every run checks the same cases. */
class ServeShardsSpec extends AnyFunSuite with SparkSpec with Matchers {

  graft.functions.VectorExprs.ensureRegistered(SparkSpec.session)

  private def draws[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val extremeLong: Gen[Long] = Gen.frequency(
    6 -> Gen.choose(-4000L, 4000L),
    1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, 0L, 1L, -1L,
      Long.MaxValue / 2, 3037000500L),
    1 -> Gen.long)

  private val vector: Gen[Array[Long]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Array.fill(3)(0L)),
    8 -> Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, extremeLong).map(_.toArray)))

  private val norm: Gen[Long] = Gen.frequency(
    3 -> Gen.const(0L),
    4 -> Gen.choose(1L, 1L << 40),
    2 -> extremeLong)

  /** (a, n2a, b, n2b); a fifth of the cases repeat the previous draw's
    * score inputs with the operands swapped, so equal scores occur. */
  private val cases: Seq[(Array[Long], Long, Array[Long], Long)] = {
    val base = draws(for (a <- vector; n2a <- norm; b <- vector; n2b <- norm)
      yield (a, n2a, b, n2b), 400)
    base ++ base.take(80).map { case (a, n2a, b, n2b) => (b, n2b, a, n2a) }
  }

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("a", ArrayType(LongType)),
    StructField("n2a", LongType), StructField("b", ArrayType(LongType)),
    StructField("n2b", LongType)))

  /** Catalyst's scores of the indexed cases, in a codegen'd task. */
  private def catalyst(idx: Seq[Int], ansi: Boolean): Map[Int, java.lang.Double] = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, ansi.toString)
    try {
      val rows = idx.map { i =>
        val (a, n2a, b, n2b) = cases(i)
        Row(i, Option(a).map(_.toSeq).orNull, n2a, Option(b).map(_.toSeq).orNull, n2b)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("i"), Similarity.cosine(Similarity.dotL(col("a"), col("b")),
          col("n2a"), col("n2b")).as("cos"))
        .collect().map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
        .toMap
    } finally spark.conf.set(key, before)
  }

  private def shard(i: Int, ansi: Boolean): java.lang.Double = {
    val (a, n2a, b, n2b) = cases(i)
    ServeShards.cosine(a, n2a, b, n2b, ansi)
  }

  private def bits(d: java.lang.Double): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToLongBits(x))

  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  test("the shard cosine equals Catalyst's cosine(graft_dot) bit for bit, " +
      "null and failing exactly where it is, under either ANSI setting") {
    val all = cases.indices
    val lenient = catalyst(all, ansi = false)
    for (i <- all) withClue(s"case $i: ") {
      bits(shard(i, ansi = false)) shouldBe bits(lenient(i))
    }
    lenient.values.count(_ == null) should be > 20
    lenient.values.count(d => d != null && d.isNaN) should be > 0

    val (fails, passes) = all.partition(i =>
      scala.util.Try(shard(i, ansi = true)).isFailure)
    fails.size should be > 20
    val strict = catalyst(passes, ansi = true)
    for (i <- passes) withClue(s"case $i: ") {
      bits(shard(i, ansi = true)) shouldBe bits(strict(i))
    }
    for (i <- fails.take(6)) withClue(s"case $i: ") {
      val mine = intercept[Throwable](shard(i, ansi = true))
      val theirs = intercept[Throwable](catalyst(Seq(i), ansi = true))
      condition(mine) shouldBe Some("DIVIDE_BY_ZERO")
      condition(theirs) shouldBe Some("DIVIDE_BY_ZERO")
    }
  }

  test("per-shard heaps merged on the driver keep the first k rows of a " +
      "Catalyst (score DESC, id ASC) sort: ties, NaN, ±0.0 and null") {
    val score: Gen[java.lang.Double] = Gen.frequency(
      1 -> Gen.const(null),
      1 -> Gen.oneOf(Double.NaN, 0.0, -0.0, 1.0, -1.0, Double.PositiveInfinity)
        .map(java.lang.Double.valueOf),
      2 -> Gen.choose(-3, 3).map(x => java.lang.Double.valueOf(x / 2.0)))
    val lists = draws(for {
      n <- Gen.choose(0, 40)
      scores <- Gen.listOfN(n, score)
      ids <- Gen.pick(n, (-50L to 50L) ++ Seq(Long.MaxValue, Long.MinValue + 1))
      k <- Gen.choose(1, 12)
      shards <- Gen.choose(1, 4)
    } yield (ids.toSeq.zip(scores), k, shards), 60)
    val ordered = StructType(Seq(StructField("id", LongType),
      StructField("score", DoubleType)))
    for (((rows, k, nShards), n) <- lists.zipWithIndex) withClue(s"list $n: ") {
      val expected = spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map { case (id, s) => Row(id, s) }, 2), ordered)
        .orderBy(col("score").desc, col("id").asc)
        .collect().take(k).map(r => r.getLong(0)).toSeq
      val perShard = rows.zipWithIndex.groupBy(_._2 % nShards).values.map { part =>
        val h = new ServeShards.Heaps(k)
        part.foreach { case ((id, s), _) => h.offer(ServeShards.SemLeg, 7L, id, s) }
        h.best.values.flatten
      }
      val merged = new ServeShards.Heaps(k)
      perShard.flatten.foreach(h => merged.offer(h.leg, h.qId, h.id, h.score))
      merged.best.getOrElse((ServeShards.SemLeg, 7L), Nil).map(_.id) shouldBe expected
    }
  }
}
