package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.functions.TextFns.tokens

/** Execute q111's epoch-shuffle shard PLAN as an actual partitioned
  * write — the last step a training team runs: turn the (epoch, shard)
  * assignment from a report into the loader ARTIFACT, a
  * `epoch=E/shard=S` parquet tree each epoch's data-loader reads
  * shard-by-shard.
  *
  * The assignment expression is [[TextAnalysis.shardAssign]] — the SAME
  * column q111 aggregates — so the written layout and the reported plan
  * cannot drift apart (`ShardWriterSpec` pins per-directory row counts
  * and token sums equal to the q111 report cell-for-cell).
  *
  * Two shapes, both partitioned `epoch=E/shard=S`:
  *
  *  - MANIFEST (default): `(doc_id, n_tokens)` only — the 100 TB-sane
  *    artifact. Fanning a corpus across E epochs duplicates it E×;
  *    payload bytes already live in the corpus store, so the loader
  *    artifact is the per-epoch ordering manifest (ids + token counts
  *    for batch packing) that resolves against the corpus at read
  *    time. E × the corpus' ID column is small at any scale.
  *  - PAYLOAD (`manifestOnly = false`): full document rows — the shape
  *    for pipelines that materialize each epoch's bytes (e.g. when the
  *    downstream reader is a dumb sequential tailer with no corpus
  *    store access).
  *
  * Scale posture: the assignment is a stateless per-row hash stamped at
  * scan position; `partitionBy` routes rows to directories WITHIN each
  * writing task — no shuffle of payload bytes, exactly the zero-shuffle
  * claim q111's scaladoc makes, now proven at the write path. The cost
  * is file count (writing tasks × populated cells); `coalesceFiles`
  * opts into ONE exchange keyed on (epoch, shard) for one-file-per-cell
  * layouts — worth it for manifests (tiny rows), rarely for payloads
  * (it shuffles every byte E times).
  */
object ShardWriter {

  /** Stamp the (epoch, shard) assignment onto `docs` (must carry
    * `doc_id` and `text`) and write `<outDir>/epoch=E/shard=S/`.
    * Returns the written frame's cell summary `(epoch, shard, n_docs,
    * n_tokens)` for reconciliation against q111's plan. */
  def write(spark: SparkSession, docs: DataFrame, outDir: String,
      epochs: Long = TextAnalysis.ShuffleEpochs,
      shards: Long = TextAnalysis.ShuffleShards,
      manifestOnly: Boolean = true,
      coalesceFiles: Boolean = false): DataFrame = {
    require(epochs >= 1 && shards >= 1,
      s"epochs/shards must be positive, got $epochs/$shards")
    val fanned = docs
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("epoch", TextAnalysis.epochFan(epochs))
      .withColumn("shard",
        TextAnalysis.shardAssign(col("doc_id"), col("epoch"), shards))
    val shaped =
      if (manifestOnly)
        fanned.select(col("doc_id"), col("n_tokens"), col("epoch"),
          col("shard"))
      else fanned
    val routed =
      if (coalesceFiles) shaped.repartition(col("epoch"), col("shard"))
      else shaped
    routed.write.partitionBy("epoch", "shard").parquet(outDir)

    // Read back under an explicit schema: the partition directories
    // parse straight into q111's long (epoch, shard), and a write that
    // shipped no rows (an empty tree: no files to infer a schema from)
    // summarizes to zero cells instead of failing the read.
    spark.read.schema("n_tokens LONG, epoch LONG, shard LONG").parquet(outDir)
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("epoch"), col("shard"))
  }
}
