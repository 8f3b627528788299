package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV ingestion — the interchange format corpora arrive in before
  * they become parquet. Same contract as [[JsonIO]]: explicit schema
  * (inference is an extra full pass) and a deliberate malformed-record
  * policy.
  *
  * CSV-specific traps the options below pin down:
  *  - Spark's default escape is backslash, not RFC 4180's doubled
  *    quote; writer and reader must agree or embedded quotes shred
  *    rows. We fix escape = `"` on both sides.
  *  - Text columns with embedded newlines need `multiLine` on read —
  *    which makes files non-splittable (one task per file). A 100 TB
  *    corpus should strip/escape newlines at write time instead and
  *    keep line-splittable files; `multiLine` is the compatibility
  *    fallback for corpora you didn't write.
  */
object CsvIO {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .csv(path)

  /** Read with an explicit schema and malformed policy
    * (PERMISSIVE | DROPMALFORMED | FAILFAST).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              mode: String = "PERMISSIVE",
              multiLine: Boolean = false): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .option("mode", mode)
      .csv(path)
}
