package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Features

/** Pins the r17 query-plan memo ([[graft.operators.Features.memoQuery]],
  * wrapped around every [[SparkEntry.queries]] entry):
  *
  *  1. same (session, dir, graft-conf state) → the SAME built DataFrame
  *     object — the analyzer does not re-run per bench pass;
  *  2. it is a PLAN cache, not a result cache: the memoized frame is not
  *     persisted by the memo, and every action re-executes the physical
  *     plan (observed via an input-side accumulator that keeps counting
  *     on repeat actions);
  *  3. a flipped spark.graft.* knob builds FRESH (mode knobs change what
  *     builders emit);
  *  4. `spark.graft.features.cache=off` bypasses the memo entirely
  *     (pristine-build mode for plan-shape specs).
  */
class PlanMemoSpec extends AnyFunSuite with SparkSpec {

  test("memoQuery returns the same frame per (session, key, conf state)") {
    val a = SparkEntry.queries("q62_profile")(spark, SparkSpec.Sf0001)
    val b = SparkEntry.queries("q62_profile")(spark, SparkSpec.Sf0001)
    assert(a eq b, "second build must hit the plan memo")
  }

  test("the memo caches the plan, not results: actions re-execute") {
    val acc = spark.sparkContext.longAccumulator("planMemoProbe")
    val counting = org.apache.spark.sql.functions.udf { (x: Long) =>
      acc.add(1L); x
    }
    def build() = Features.memoQuery(spark, SparkSpec.Sf0001, "planMemoSpec#probe") {
      spark.range(0, 7, 1, 1).select(counting(col("id")).as("v"))
    }
    val first = build()
    assert(first.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "memoQuery must not persist the frame")
    first.write.format("noop").mode("overwrite").save()
    val afterOne = acc.value
    assert(afterOne >= 7, s"first action must execute (saw $afterOne)")
    val second = build()
    assert(second eq first)
    second.write.format("noop").mode("overwrite").save()
    assert(acc.value >= afterOne + 7,
      s"repeat action must RE-execute from the inputs " +
        s"(saw ${acc.value}, expected >= ${afterOne + 7})")
  }

  test("a flipped spark.graft.* knob builds fresh") {
    val key = "planMemoSpec#conf"
    val before = Features.memoQuery(spark, SparkSpec.Sf0001, key)(spark.range(1).toDF())
    spark.conf.set("spark.graft.planmemospec.knob", "v1")
    try {
      val after = Features.memoQuery(spark, SparkSpec.Sf0001, key)(spark.range(1).toDF())
      assert(!(after eq before), "conf flip must miss the memo")
      val again = Features.memoQuery(spark, SparkSpec.Sf0001, key)(spark.range(1).toDF())
      assert(again eq after, "same flipped state must hit again")
    } finally spark.conf.unset("spark.graft.planmemospec.knob")
  }

  test("a mutated input dir misses the memo (stale-FileIndex guard)") {
    // The q127 content-rotation contract, pinned at the memo layer: a
    // rewritten table under the same dir must BUILD FRESH — the old
    // frame's FileIndex lists part files the overwrite deleted.
    val dir = java.nio.file.Files.createTempDirectory("planmemo_").toString
    def writeTable(v: String): Unit = {
      import spark.implicits._
      Seq((1L, v)).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
    }
    writeTable("v1")
    val key = "planMemoSpec#mutate"
    def build() = Features.memoQuery(spark, dir, key)(
      spark.read.parquet(s"$dir/t.parquet"))
    val a = build()
    assert(build() eq a, "unchanged dir must hit the memo")
    val stale = Features.stampsFor(spark, dir, key)
    Thread.sleep(1100) // cover coarse-mtime filesystems
    writeTable("v2")
    val b = build()
    assert(!(b eq a), "rewritten input must miss the memo")
    assert(b.select("v").collect().map(_.getString(0)).toSeq == Seq("v2"))
    val live = Features.stampsFor(spark, dir, key)
    assert(live.size == 1 && (live & stale).isEmpty,
      s"the superseded entry must be released: held $live, stale $stale")
  }

  test("features.cache=off bypasses the memo") {
    spark.conf.set(Features.CacheModeConf, "off")
    try {
      val a = Features.memoQuery(spark, SparkSpec.Sf0001, "planMemoSpec#off")(spark.range(1).toDF())
      val b = Features.memoQuery(spark, SparkSpec.Sf0001, "planMemoSpec#off")(spark.range(1).toDF())
      assert(!(a eq b), "cache=off must build fresh every call")
    } finally spark.conf.unset(Features.CacheModeConf)
  }
}
