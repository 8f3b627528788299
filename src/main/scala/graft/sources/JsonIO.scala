package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSONL ingestion — the lingua franca of LLM training corpora (one
  * JSON document per line; WebText/C4/RedPajama all ship this way).
  * The contract that matters at 100 TB:
  *
  *  - ALWAYS pass an explicit schema. Schema inference is a full extra
  *    pass over the data before the real job starts, and a skewed
  *    sample can silently widen types mid-corpus.
  *  - Pick a malformed-record policy deliberately: PERMISSIVE (null
  *    the row, capture the raw line in a corrupt-record column — one
  *    poison line must not kill a week-long job), DROPMALFORMED
  *    (silently skip), FAILFAST (abort). The corrupt-record column
  *    makes the failure rate OBSERVABLE — a corpus build should count
  *    it, not guess.
  *  - JSONL splits by line, so a single file parallelizes across
  *    tasks like any text source; gzip members don't split — shard
  *    compressed corpora into many files.
  */
object JsonIO {

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Read with an explicit schema and malformed policy
    * (PERMISSIVE | DROPMALFORMED | FAILFAST). Under PERMISSIVE, a
    * `_corrupt_record` string field in `schema` (Spark's default
    * corrupt-record column name) captures each malformed raw line.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                mode: String = "PERMISSIVE"): DataFrame =
    spark.read.schema(schema).option("mode", mode).json(path)
}
