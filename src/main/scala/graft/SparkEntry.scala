package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Events, Multimodal, Pipeline, Relational, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator suite; each key has a matching
  * DuckDB `oracleSql` entry unless the operator is not SQL-expressible
  * (then the driver records a weaker rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own end-to-end dataflow (manifest → classify →
    * sorted KV output, SURVEY.md §3.4). */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.queries("q28_kv_sorted")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every entry is wrapped in [[graft.operators.Features.memoQuery]]:
    * building a query's DataFrame is driver-side analyzer work measured
    * at 0.04–1.5 s per query at sf0.1 (suite-wide ~25 s/pass), and the
    * built frame is immutable — so it is memoized in the `Features`
    * registry, keyed by (session, dir, `q#<name>`, spark.graft.* conf
    * state) and checked against the dir's input stamp on every lookup.
    * Actions on the memoized frame still execute the full physical plan
    * from the parquet inputs each time (plan cache, not result cache —
    * PlanMemoSpec pins this); a flipped graft mode knob, a rewritten
    * input or `spark.graft.features.cache=off` builds fresh. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((spark: SparkSession, dir: String) => {
        // register the graft_* function surface on THE session the
        // query will analyze under — `call_function` columns resolve
        // lazily against its registry, and a `newSession()` (fresh
        // registry, same context) would otherwise hit
        // unresolvedRoutineError on the limb-sum family
        graft.plans.GraftExtensions.register(spark)
        graft.operators.Features.memoQuery(spark, dir, s"q#$name")(
          fn(spark, dir))
      })
    }

  private lazy val rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Events.queries ++ Pipeline.queries ++
      TextAnalysis.queries ++ Dedup.queries ++ Similarity.queries ++
      Multimodal.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Events.oracles ++ Pipeline.oracles ++
      TextAnalysis.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      Multimodal.oracles
}
