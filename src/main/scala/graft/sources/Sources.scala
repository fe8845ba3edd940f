package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.TableSpec

/** Ingestion sources (SURVEY.md §2.1). An engine `Source` produces a
  * DataFrame; transform/merge stages never know where rows came from.
  * Extractors that talk to external APIs run OUT of the engine on the
  * driver ([[PaginatedSource]]) and hand Spark a materialized page set —
  * per-row RPCs inside executors are deliberately impossible to express.
  */
trait Source {
  def name: String
  def read(spark: SparkSession): DataFrame
}

/** S3 — CSV scan with pandas-parity semantics: header row, EVERY column
  * read as a nullable string (no inference nondeterminism), then the
  * TableSpec cast battery applied in one select
  * (`Salesforce/Task/lambda_litify_task.py:158-159` reads then coerces).
  * Supports a path glob, so S1's prefix listing is subsumed by the
  * reader's own file enumeration. */
final case class CsvSource(name: String, paths: Seq[String],
                           spec: Option[TableSpec] = None) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val header = spark.read.option("header", "true").csv(paths: _*)
    val allString = StructType(header.schema.fieldNames.map(f =>
      StructField(f, StringType, nullable = true)))
    val raw = spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .schema(allString).csv(paths: _*)
    spec.fold(raw)(_.apply(raw))
  }
}

/** S4 — JSON-lines stage (`lambda_litify_task.py:30-33`:
  * `to_json(orient='records', lines=True, date_format='iso')`). Spark's
  * JSON writer is already JSONL with ISO-8601 timestamps; the reader
  * restores types through the TableSpec (stage files are stringly). */
object JsonlStage {
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Spark's JSON writer omits null fields, so a declared column that is
    * null in every row of a drop is absent from the inferred schema; it
    * is restored as a null string, and the spec's cast battery types it
    * like any other value. */
  def read(spark: SparkSession, path: String, spec: TableSpec): DataFrame = {
    val df = spark.read.json(path)
    val present = df.columns.map(_.toLowerCase).toSet
    spec(df.select(col("*") +: spec.declared.filterNot(present)
      .map(c => lit(null).cast(StringType).as(c)): _*))
  }
}

/** S7/S9/S10/S12 — driver-side paginated extraction: `fetch(pageToken)`
  * returns one page of rows plus the next token; pages are drained with a
  * bounded throttle-retry (the reference sleeps 2 s on
  * TooManyRequestsException and retries, `lambda_boto3_connect_redshift
  * .py:91-189`), then handed to Spark as ONE DataFrame. Deterministic
  * fakes implement `fetch` in tests; production implementations wrap an
  * HTTP/SDK client. */
final case class PaginatedSource[T <: Product](
    name: String,
    fetch: Option[String] => (Seq[T], Option[String]),
    maxRetries: Int = 3,
    retryDelayMs: Long = 2000L)(implicit enc: org.apache.spark.sql.Encoder[T])
  extends Source {

  def read(spark: SparkSession): DataFrame = {
    val rows = Iterator.iterate(fetchWithRetry(None)) {
      case (_, Some(tok)) => fetchWithRetry(Some(tok))
      case done => done
    }.takeWhileInclusive(_._2.isDefined).flatMap(_._1).toSeq
    spark.createDataset(rows)(enc).toDF()
  }

  private def fetchWithRetry(tok: Option[String]): (Seq[T], Option[String]) = {
    var attempt = 0
    while (true) {
      try return fetch(tok)
      catch {
        case e: ThrottledException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(retryDelayMs)
      }
    }
    sys.error("unreachable")
  }

  private implicit class TakeWhileInclusive[A](it: Iterator[A]) {
    /** takeWhile, but also yields the first failing element (the last
      * page, whose next-token is None). */
    def takeWhileInclusive(p: A => Boolean): Iterator[A] = {
      var done = false
      it.takeWhile { a => val keep = !done; done = !p(a); keep }
    }
  }
}

/** Retryable throttle signal for [[PaginatedSource]] implementations. */
final class ThrottledException(msg: String) extends RuntimeException(msg)

/** S8 — per-row enrichment re-expressed as a batch lookup join: collect the
  * needed keys, fetch them as a lookup table (one extractor call, not one
  * per row), left-join with defaults for misses
  * (`lambda_boto3_connect_redshift.py:74-89,161-169`). */
object Enrich {
  def withLookup(df: DataFrame, lookup: DataFrame, key: String,
                 defaults: Map[String, Any] = Map.empty): DataFrame = {
    val joined = df.join(broadcast(lookup), Seq(key), "left")
    defaults.foldLeft(joined) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), lit(v)))
    }
  }
}
