package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Exactly-once-by-epoch foreachBatch sink for targets WITHOUT their own
  * metadata log (object stores, JDBC staging dirs, …).
  *
  * Structured Streaming's foreachBatch contract is at-least-once: if the
  * driver dies between the sink write and the offset-log commit, the
  * SAME (batch, batchId) is replayed on restart. Spark's built-in file
  * sink absorbs that with its `_spark_metadata` log; every other target
  * needs the epoch-id pattern this object implements:
  *
  *   - each micro-batch lands in its own `batch_id=<epoch>` directory,
  *   - a commit marker (`_SUCCESS`) is written only after the data, and
  *   - a replayed epoch whose marker already exists is a NO-OP; a
  *     replayed epoch with a torn, unmarked write is OVERWRITTEN, so
  *     partial output never survives.
  *
  * Readers take the union of marked directories — i.e. exactly-once
  * output from an at-least-once channel. This is the Kafka-world
  * "transactional producer + consumer reads committed" story
  * (reference: processor/PriceAlertsApp.java's implicit reliance on KS
  * EOS config), rebuilt on a plain filesystem.
  *
  * At scale, per-epoch directories are also the natural compaction
  * unit: a periodic rewrite can fold cold epochs into larger files
  * without touching the live one.
  */
object IdempotentSink {

  /** The foreachBatch function: append `batch` under `out` keyed by
    * `batchId`, idempotently. Pass as
    * `.foreachBatch(IdempotentSink.write(out) _)`.
    */
  private[graft] def write(out: String)(batch: DataFrame, batchId: Long): Unit = {
    val root = new Path(out)
    val dir = new Path(root, s"batch_id=$batchId")
    val fs = root.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new Path(dir, "_SUCCESS")
    if (!fs.exists(marker)) {
      // overwrite: a torn previous attempt (no marker) is replaced
      batch.write.mode("overwrite").parquet(dir.toString)
      // write the commit marker OURSELVES rather than relying on the
      // Hadoop committer's implicit _SUCCESS: object-store deployments
      // commonly disable mapreduce.fileoutputcommitter.marksuccessfuljobs,
      // and without a marker every restart would rewrite every epoch
      // while readCommitted() saw an empty table despite data existing
      fs.create(marker, true).close()
    }
  }

  /** Read back the committed union (directories with a marker only):
    * the reader half of the sink protocol.
    */
  private[graft] def readCommitted(spark: org.apache.spark.sql.SparkSession,
                    out: String): DataFrame = {
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
    if (committed.isEmpty)
      spark.emptyDataFrame
    else
      // basePath keeps the batch_id=N partition column visible even
      // though only the committed leaf dirs are listed
      spark.read.option("basePath", out).parquet(committed: _*)
  }
}
