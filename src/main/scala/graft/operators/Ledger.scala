package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incremental-discovery ledger (SURVEY.md §2.1 S2 / §2.5 D2).
  *
  * The reference keeps a DynamoDB set of processed folder keys and skips
  * folders already in it (`lambda_litify_task.py:117-126,171-204`). Here the
  * ledger is an append-only parquet of processed keys; discovery is a
  * left-anti join. At scale the ledger is tiny relative to the data (one row
  * per ingested batch/folder), so the anti-join broadcasts.
  *
  * Discovery runs no footer or schema-inference job: existence is a file
  * system test, and the ledger is read with its declared `key string`
  * schema. A broadcast left-anti join needs no distinct keys, so a key
  * marked twice costs one more broadcast row, not a shuffle. A ledger that
  * cannot be read (a failed stat, a corrupt part file) fails discovery: it
  * is never taken for an empty ledger, which would reload every drop.
  */
final class Ledger(spark: SparkSession, path: String) {

  private val schema = StructType(Seq(StructField("key", StringType)))

  private def exists: Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Every key marked so far, duplicates included. */
  def processedKeys: DataFrame =
    if (exists) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Candidates not yet processed. `candidates` must have a `key` column. */
  def discoverNew(candidates: DataFrame): DataFrame =
    candidates.join(broadcast(processedKeys), Seq("key"), "left_anti")

  /** Empty-folder late-file tolerance (`lambda_litify_task.py:194-200`,
    * `Salesforce/README.md:93`): an empty candidate is only marked processed
    * if a later candidate exists — the most recent empty folder stays
    * eligible so late-arriving files are picked up next run.
    * `candidates` needs `key` (orderable) and `has_files` (boolean). */
  def completable(candidates: DataFrame): DataFrame = {
    val maxKey = candidates.agg(max("key").as("max_key"))
    candidates.crossJoin(broadcast(maxKey))
      .filter(col("has_files") || col("key") < col("max_key"))
      .select("key")
  }

  def markProcessed(keys: DataFrame): Unit =
    keys.select(col("key").cast("string"))
      .write.mode(SaveMode.Append).parquet(path)
}
