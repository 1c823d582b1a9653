package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** Per-partition lineage + row-count metrics (north_rule: "every
  * partition emits lineage + row-count metrics into snapshots").
  * [[partitionMetrics]] tags rows with their physical partition id
  * and stage attempt in a single mapPartitions pass; a committed
  * snapshot carries the same per-partition rows in its manifest, so
  * [[commitWithMetrics]] is a plain commit whose metrics read back as
  * `<name>__metrics` without a second snapshot.
  */
object Lineage {
  /** (partition_id, rows, task_attempt) per physical partition of
    * `df`. `task_attempt` is the attempt whose output SURVIVED commit
    * (under retries/speculation that need not be the first attempt
    * launched).
    */
  def partitionMetrics(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.mapPartitions { it =>
      val ctx = TaskContext.get()
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single((ctx.partitionId(), n, ctx.taskAttemptId()))
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong))
      .toDF("partition_id", "rows", "task_attempt")
    counts.orderBy("partition_id")
  }

  /** Commit `df` as a snapshot whose per-partition metrics read as
    * `<name>__metrics`: `store.read(name + "__metrics")` serves
    * (partition_id, rows, file) from the commit's own manifest —
    * parquet footers + committer file names — so this is ONE commit,
    * the data is computed and scanned exactly once, and no store
    * operation spans two versions.
    */
  def commitWithMetrics(store: SnapshotStore, name: String, df: DataFrame): Int =
    store.commit(name, df)
}
