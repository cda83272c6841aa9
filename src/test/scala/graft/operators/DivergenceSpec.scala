package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The drift kernels beyond the fixtures: for random per-key count
  * grids, each batch kernel must equal its scalar replay bit for bit,
  * key by key, with the pooled marginal as the reference — `psi_u` for
  * [[Divergence.psi]] vs [[Divergence.psiU]], `ks_u` and `emd_u` for
  * [[Divergence.ecdf]] vs [[Divergence.ksEmdU]]. Inputs are seeded
  * ScalaCheck draws, so every run checks the same cases. */
class DivergenceSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def draws[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val count: Gen[Long] = Gen.frequency(
    3 -> Gen.const(0L),
    6 -> Gen.choose(1L, 12L),
    1 -> Gen.choose(100L, 400L))

  /** 1–6 keys × a domain of 1–12 cells; a zero cell has no row. */
  private val psiGrid: Gen[(Int, Seq[Seq[Long]])] = for {
    k <- Gen.choose(1, 12)
    keys <- Gen.choose(1, 6)
    grid <- Gen.listOfN(keys, Gen.listOfN(k, count))
  } yield (k, grid)

  /** 1–6 keys over 1–40 distinct values with gaps; some keys hold a
    * single value, some a single row. */
  private val ecdfGrid: Gen[Seq[Seq[(Long, Long)]]] = for {
    nVals <- Gen.choose(1, 40)
    start <- Gen.choose(-50L, 50L)
    steps <- Gen.listOfN(nVals, Gen.frequency(
      4 -> Gen.choose(1L, 3L), 1 -> Gen.choose(4L, 500L)))
    values = steps.scanLeft(start)(_ + _).tail
    keys <- Gen.choose(1, 6)
    grid <- Gen.listOfN(keys, Gen.frequency(
      1 -> Gen.oneOf(values).map(v => Seq(v -> 1L)),
      1 -> Gen.zip(Gen.oneOf(values), Gen.choose(2L, 30L)).map(Seq(_)),
      4 -> Gen.sequence[List[(Long, Long)], (Long, Long)](
        values.map(v => count.map(v -> _))).map(_.filter(_._2 > 0L))))
  } yield grid.filter(_.nonEmpty)

  /** One row per item: (key, cell) repeated by its count. */
  private def items(grid: Seq[Seq[(Long, Long)]]): Seq[(String, Long)] =
    grid.zipWithIndex.flatMap { case (cells, i) =>
      cells.flatMap { case (c, n) => Seq.fill(n.toInt)((s"k$i", c)) }
    }

  test("psi equals psiU per key over random count grids") {
    import spark.implicits._
    val checked = draws(psiGrid, 14).zipWithIndex.count { case ((k, grid), d) =>
      val rows = items(grid.map(_.zipWithIndex.map { case (n, c) =>
        (c.toLong, n) }))
      rows.nonEmpty && {
        val ref = Array.tabulate(k)(c => grid.map(_(c)).sum)
        val got = Divergence.psi(rows.toDF("key", "cell"), "key", "cell", k)
          .as[(String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        val want = grid.zipWithIndex.collect {
          case (counts, i) if counts.sum > 0 =>
            s"k$i" -> ((counts.sum, Divergence.psiU(counts.toArray, ref)))
        }.toMap
        withClue(s"draw $d (domain $k, grid $grid): ") { got shouldBe want }
        true
      }
    }
    checked should be >= 12
  }

  test("ecdf equals ksEmdU per key over random value grids") {
    import spark.implicits._
    val checked = draws(ecdfGrid, 14).zipWithIndex.count { case (grid, d) =>
      val rows = items(grid)
      rows.nonEmpty && {
        val ref = grid.flatten.groupMapReduce(_._1)(_._2)(_ + _).toSeq
        val got = Divergence.ecdf(rows.toDF("key", "v"), "key", "v")
          .as[(String, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        val want = grid.zipWithIndex.map { case (cells, i) =>
          val (ks, emd) = Divergence.ksEmdU(cells.toMap, ref)
          s"k$i" -> ((cells.map(_._2).sum, ks, emd))
        }.toMap
        withClue(s"draw $d (grid $grid): ") { got shouldBe want }
        true
      }
    }
    checked should be >= 12
  }
}
