package graft.export

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSONL shard export — the training-data loader format: one JSON object
  * per line, shard files bounded by record count so a data-loader's unit of
  * parallelism (one shard) has a predictable size, and shard membership is
  * deterministic across runs (re-exports are diffable, resumable loaders
  * see stable shards).
  *
  * Scale shape: `repartition(shards, hash(idCol))` is one exchange keyed by
  * the stable id — NOT round-robin (`repartition(n)` alone round-robins
  * whole input partitions, so shard contents would depend on scheduling),
  * and `sortWithinPartitions` fixes the order inside each shard without a
  * global sort. `maxRecordsPerFile` caps any residual skew per file. At
  * 100 TB the knob that changes is the shard count, not the plan.
  */
object JsonlExport {

  def writeSharded(df: DataFrame, idCol: String, path: String,
                   shards: Int, maxRecordsPerShard: Int): Unit =
    df.repartition(shards, hash(col(idCol)))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite").options(graft.sinks.LocalFs.writeOptions)
      .option("maxRecordsPerFile", maxRecordsPerShard)
      .json(path)
}
