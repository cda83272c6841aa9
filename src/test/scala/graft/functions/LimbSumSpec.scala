package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.Parity._
import graft.functions.LimbSum._

/** Pins the two-limb long sum family bit-identical to the legacy
  * decimal-buffer forms it replaced (round-18 optimization): same
  * doubles (raw-bits compare), same longs, same NULL semantics, across
  * real fixture data, negatives, nulls, carry-crossing magnitudes and
  * multi-partition merges.
  */
class LimbSumSpec extends AnyFunSuite with SparkSpec {

  /** The legacy decimal-buffer forms the limb sums replaced: the
    * equivalence reference every test below compares against. */
  private def dsumDec(c: Column): Column = decToDouble(sum(dec(c)))
  private def dsumRevenueDec(price: Column, discount: Column): Column =
    decToDouble(sum(revenue(price, discount)))

  private def bits(x: Any): Any = x match {
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def assertSame(a: DataFrame, b: DataFrame, clue: String): Unit = {
    val ra = a.collect().map(r => r.toSeq.map(bits))
    val rb = b.collect().map(r => r.toSeq.map(bits))
    assert(ra.length == rb.length, s"$clue: row counts ${ra.length} vs ${rb.length}")
    ra.zip(rb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$clue row $i: $x vs $y")
    }
  }

  private lazy val li = spark.read.parquet(s"${graft.SparkSpec.Sf0001}/lineitem.parquet")

  test("dsum/davg match the decimal forms bitwise on fixture data") {
    val byKey = li.groupBy(col("l_returnflag"), col("l_linestatus"))
    assertSame(
      byKey.agg(dsum(col("l_quantity")), dsum(col("l_extendedprice")),
        davg(col("l_quantity")), davg(col("l_discount"))).orderBy("l_returnflag", "l_linestatus"),
      byKey.agg(dsumDec(col("l_quantity")), dsumDec(col("l_extendedprice")),
        dsumDec(col("l_quantity")) / count(lit(1)).cast("double"),
        dsumDec(col("l_discount")) / count(lit(1)).cast("double"))
        .orderBy("l_returnflag", "l_linestatus"),
      "fixture dsum")
  }

  test("dsumRevenue and the charge term match the decimal forms bitwise") {
    val byKey = li.groupBy(col("l_returnflag"))
    val chargeDec = decToDouble(sum(revenue(col("l_extendedprice"), col("l_discount")) *
      (lit(1).cast("decimal(12,4)") + dec4(col("l_tax")))))
    assertSame(
      byKey.agg(
        dsumRevenue(col("l_extendedprice"), col("l_discount")),
        limbSum(chargeU6(col("l_extendedprice"), col("l_discount"), col("l_tax")), 6),
        limbSum(prodU8(col("l_extendedprice"), col("l_discount")), 8))
        .orderBy("l_returnflag"),
      byKey.agg(
        dsumRevenueDec(col("l_extendedprice"), col("l_discount")),
        chargeDec,
        decToDouble(sum(dec(col("l_extendedprice")) * dec4(col("l_discount")))))
        .orderBy("l_returnflag"),
      "fixture revenue/charge")
  }

  test("adversarial synthetics: negatives, nulls, carry crossings, many partitions") {
    import spark.implicits._
    // Values up to ~9e13 (the DECIMAL(18,4) ceiling) force lo-limb
    // carries after ~80 rows; negatives exercise pmod/floor-div signs;
    // a null stripe exercises skip semantics; 4-digit fractions
    // exercise the frac reconstruction.
    val rows = (0 until 4000).map { i =>
      val base = i % 7 match {
        case 0 => 9.0e13 + i * 0.1234
        case 1 => -9.0e13 - i * 0.4321
        case 2 => i * 1.0001
        case 3 => -i * 2.5
        case 4 => 0.0001 * i
        case 5 => -0.33
        case 6 => 123456.789
      }
      (i % 13, if (i % 11 == 0) None else Some(base))
    }
    val df = rows.toDF("g", "v").repartition(17)
    assertSame(
      df.groupBy("g").agg(dsum(col("v")), davg(col("v"))).orderBy("g"),
      df.groupBy("g").agg(dsumDec(col("v")),
        dsumDec(col("v")) / count(lit(1)).cast("double")).orderBy("g"),
      "synthetic dsum")
    // all-null group and empty-ish frame → NULL parity
    val nulls = Seq((1, Option.empty[Double]), (1, Option.empty[Double]))
      .toDF("g", "v")
    assertSame(
      nulls.groupBy("g").agg(dsum(col("v"))),
      nulls.groupBy("g").agg(dsumDec(col("v"))),
      "all-null")
  }

  test("u4 fast path: adversarial 5+dp, ties, magnitudes match the Cast bitwise") {
    import spark.implicits._
    // per-value parity (group = row) so a single divergence is visible
    val shared: Seq[Double] = Seq(
      0.00005, -0.00005, 0.000049999, 0.00015, 1.00005, 123.45675,
      0.1 + 0.2, 1.0 / 3.0, math.Pi, 0.12345678901234, -42.00005,
      java.lang.Double.MIN_VALUE, -0.0, 0.0, 0.99995, -0.99995,
      0.00004999999999999999)
    // values inside DECIMAL(18,4) but outside the fast-path bound or
    // near 2^53/10^4 where the self-check must reject
    val wide: Seq[Double] = shared ++ Seq(
      9.999999999e9, 1.0000000001e10, 1e13, 9.99995e13, 5e7,
      9.9999999e7, 1.00000001e8, 900719925474.0993)
    val dfW = wide.zipWithIndex.map { case (v, i) => (i, v) }.toDF("g", "v")
    assertSame(
      dfW.groupBy("g").agg(dsum(col("v"))).orderBy("g"),
      dfW.groupBy("g").agg(dsumDec(col("v"))).orderBy("g"),
      "adversarial u4")
    // and through the narrow (12,4) extract used by discount factors
    val dfN = (shared ++ Seq(5e6, 9.9999e6, 1.0001e7))
      .zipWithIndex.map { case (v, i) => (i, v) }.toDF("g", "v")
    assertSame(
      dfN.groupBy("g").agg(limbSum(u4n(col("v")), 4)).orderBy("g"),
      dfN.groupBy("g").agg(decToDouble(sum(dec4(col("v"))))).orderBy("g"),
      "adversarial u4n")
    // past the decimal range both forms behave identically (the fast
    // path's bound keeps it from ever swallowing the Cast's overflow
    // semantics — here: ANSI error; non-ANSI: null)
    val over = Seq((1, 2.0e15)).toDF("g", "v")
    val eOld = intercept[Exception] { over.agg(dsumDec(col("v"))).collect() }
    val eNew = intercept[Exception] { over.agg(dsum(col("v"))).collect() }
    assert(eOld.getClass == eNew.getClass ||
      eNew.toString.contains("NUMERIC_VALUE_OUT_OF_RANGE") ==
        eOld.toString.contains("NUMERIC_VALUE_OUT_OF_RANGE"))
  }

  test("struct re-aggregation levels match nested decimal sums bitwise") {
    import spark.implicits._
    val rows = (0 until 5000).map { i =>
      (i % 251, i % 13, (i % 1000) * 1.07 - 300.0)
    }
    val df = rows.toDF("k1", "k2", "v").repartition(11)
    val limb2 = df.groupBy("k1", "k2").agg(limbStruct(u4(col("v"))).as("p"))
      .groupBy("k2").agg(limbResum(col("p")).as("p2"), count(lit(1)).as("n1"))
      .groupBy().agg(limbFin(col("p2"), 4).as("s"), sum("n1").as("n"))
    val dec2 = df.groupBy("k1", "k2").agg(sum(dec(col("v"))).as("p"))
      .groupBy("k2").agg(sum(col("p")).as("p2"), count(lit(1)).as("n1"))
      .groupBy().agg(decToDouble(sum(col("p2"))).as("s"), sum("n1").as("n"))
    assertSame(limb2, dec2, "two-level")
  }

  test("limbU4 micro-unit emit matches (sum(dec)*10000)::long incl. negative truncation") {
    import spark.implicits._
    val rows = (0 until 3000).map { i =>
      (i % 17, (i % 2000) * 0.3337 - 250.0, (i % 500) * 0.0199)
    }
    val df = rows.toDF("g", "p", "d").repartition(9)
    assertSame(
      df.groupBy("g").agg(
        limbU4(u4(col("p")), 4).as("u_s4"),
        limbU4(revU8(col("p"), col("d")), 8).as("u_s8")).orderBy("g"),
      df.groupBy("g").agg(
        (sum(dec(col("p"))) * lit(10000)).cast("long").as("u_s4"),
        (sum(revenue(col("p"), col("d"))) * lit(10000)).cast("long").as("u_s8"))
        .orderBy("g"),
      "limbU4")
  }

  test("fused-product guard escalates loudly beyond the proven bound") {
    import spark.implicits._
    val df = Seq((1.0e12, 0.05)).toDF("p", "d") // |price| far past 9.2e8
    val ex = intercept[Exception] {
      df.agg(dsumRevenue(col("p"), col("d"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("fused-long overflow bound")),
      s"unexpected error: $ex")
  }

  test("q01-shaped plan carries no decimal aggregate buffer") {
    val plan = li.groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")),
        dsumRevenue(col("l_extendedprice"), col("l_discount")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_limb_sum"), plan.take(2000))
    assert(!plan.toLowerCase.contains("sum(cast("), plan.take(2000))
  }

  test("EmitStruct limbs rebuild the exact BigInt sum of any long rows, " +
      "over random partition counts") {
    import spark.implicits._
    // Per-row magnitudes far past the 1e18 the update once assumed:
    // q239's guard admits products up to 9e18, and two such rows
    // wrapped `lo` before the row update shared `fold`'s div/rem split.
    val row: Gen[Long] = Gen.frequency(
      3 -> Gen.oneOf(9000000000000000000L, -9000000000000000000L,
        Long.MaxValue / 2, -(Long.MaxValue / 2), Long.MaxValue),
      2 -> Gen.long,
      2 -> Gen.choose(-2000000000000000000L, 2000000000000000000L),
      1 -> Gen.choose(-1000L, 1000L))
    val draw = for {
      n <- Gen.choose(1, 60)
      xs <- Gen.listOfN(n, row)
      parts <- Gen.choose(1, 8)
    } yield (xs, parts)
    (0 until 20).flatMap(i => draw(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { case (xs, parts) =>
        val keyed = xs.zipWithIndex.map { case (x, i) => (i % 3, x) }
        val got = keyed.toDF("g", "v").repartition(parts)
          .groupBy("g").agg(limbStruct(col("v")).as("p")).collect()
          .map { r =>
            val st = r.getStruct(1)
            r.getInt(0) -> (BigInt(st.getLong(0)) * BigInt(Carry) +
              BigInt(st.getLong(1)))
          }.toMap
        val want = keyed.groupMapReduce(_._1)(kv => BigInt(kv._2))(_ + _)
        assert(got == want, s"rows $xs over $parts partitions")
      }
  }

  test("u4's ANSI overflow raises the Cast's own exception class and " +
      "error condition") {
    import org.apache.spark.SparkThrowable
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    def sparkError(t: Throwable): Throwable = t match {
      case null => fail("no SparkThrowable in the cause chain")
      case s: SparkThrowable => s
      case other => sparkError(other.getCause)
    }
    def condition(t: Throwable): String =
      t.asInstanceOf[SparkThrowable].getCondition
    // interpreted: the expressions themselves
    val cast = intercept[ArithmeticException] {
      Cast(Literal(2.0e15), DecimalType(18, 4), None, EvalMode.ANSI).eval()
    }
    val u4e = intercept[ArithmeticException] {
      DoubleScaledLong(Literal(2.0e15), 18, ansi = true).eval()
    }
    assert(u4e.getClass == cast.getClass)
    assert(condition(u4e) == condition(cast))
    // and through a planned query under the session's ANSI mode
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val over = Seq(2.0e15).toDF("v")
    val castQ = sparkError(intercept[Exception] {
      over.select(col("v").cast(DecimalType(18, 4))).collect()
    })
    val u4Q = sparkError(intercept[Exception] {
      over.select(u4(col("v"))).collect()
    })
    assert(u4Q.getClass == castQ.getClass)
    assert(condition(u4Q) == condition(castQ))
  }
}
