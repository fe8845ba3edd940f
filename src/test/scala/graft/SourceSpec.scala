package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.TableSpecs
import graft.operators.Merge
import graft.queries.AgentMetrics
import graft.sources.{CsvSource, Enrich, FolderListing, JsonlStage, PaginatedSource, ThrottledException}
import graft.streaming.CtrPipeline

/** Ingestion layer (S3/S4/S7/S8) + the EP1 end-to-end slice:
  * CSV files -> all-string read -> TableSpec cast battery -> JSONL stage
  * round-trip -> SCD1 merge -> analytics view. */
class SourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("CsvSource: all-string schema, no inference; spec applies casts") {
    val dir = tmpDir("csv")
    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.csv"),
      "Id,Subject,IsClosed,CreatedDate,LastModifiedDate,Junk\n" +
        "t1,Call client,1,2024-01-01 10:00:00,2024-01-02 10:00:00,zzz\n" +
        "t2,,0,2024-01-01 11:00:00,not-a-date,zzz\n")
    val raw = CsvSource("task", Seq(s"$dir/part1.csv")).read(spark)
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))
    val typed = CsvSource("task", Seq(s"$dir/part1.csv"),
      Some(TableSpecs.task)).read(spark)
    assert(!typed.columns.contains("junk")) // keep-list projection
    val rows = typed.orderBy("id").collect()
    assert(rows(0).getAs[Int]("isclosed") == 1)
    assert(rows(1).getAs[String]("subject") == "") // fillna('') parity
    assert(rows(1).getAs[Any]("lastmodifieddate") == null) // errors='coerce'
  }

  test("JsonlStage: write/read round-trip restores types via spec") {
    val dir = tmpDir("jsonl") + "/stage"
    val df = Seq(("t1", "s", 1, "2024-01-02 10:00:00"))
      .toDF("id", "subject", "isclosed", "lastmodifieddate")
    JsonlStage.write(df, dir)
    val back = JsonlStage.read(spark, dir, TableSpecs.task)
    val r = back.collect()(0)
    assert(r.getAs[String]("id") == "t1")
    assert(r.getAs[Int]("isclosed") == 1)
    assert(r.getAs[java.sql.Timestamp]("lastmodifieddate") ==
      java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))
  }

  test("JsonlStage: a declared column null in every row of a drop " +
      "survives the stage and the drop merges") {
    // Spark's JSON writer omits null fields, so a drop whose optional
    // columns are empty in every row stages without them; the read
    // restores them, exactly as the CSV path reads the same drop
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val spec = TableSpecs.fCalls
    val sparse = Set("prev_contact_id", "next_contact_id", "customer_voice")
    def drop(ids: Seq[String], updated: String, empty: Boolean) =
      spark.createDataFrame(java.util.Arrays.asList(ids.map { id =>
        Row.fromSeq(spec.declared.map {
          case "contact_id" => id
          case "last_update_time" => updated
          case c if empty && sparse(c) => null
          case c if spec.timestamps.contains(c) => "2024-01-01 10:00:00"
          case c if spec.longs.contains(c) => "7"
          case c => s"$c-$id"
        })
      }: _*), StructType(spec.declared.map(StructField(_, StringType))))
    def withDate(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("init_date", to_date(col("init_time")))
    val dir = tmpDir("sparse")
    val target = s"$dir/f_calls"
    Merge.scd1Partitioned(target,
      withDate(spec(drop(Seq("c1", "c2"), "2024-01-01 11:00:00", false))),
      Seq("contact_id"), "last_update_time", "init_date")
    val late = drop(Seq("c2", "c3"), "2024-01-02 11:00:00", true)
    JsonlStage.write(late, s"$dir/stage")
    assert(sparse.forall(c => !spark.read.json(s"$dir/stage")
      .columns.contains(c)))
    val staged = JsonlStage.read(spark, s"$dir/stage", spec)
    assert(staged.columns.toSeq == spec.declared)
    assert(staged.schema == spec(late).schema)
    assert(staged.collect().toSet == spec(late).collect().toSet)
    Merge.scd1Partitioned(target, withDate(staged), Seq("contact_id"),
      "last_update_time", "init_date")
    val out = spark.read.parquet(target)
      .select("contact_id", "prev_contact_id", "customer_voice")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    // c2 takes the later, sparse version; the string battery fills ""
    assert(out == Seq(("c1", "prev_contact_id-c1", "customer_voice-c1"),
      ("c2", "", ""), ("c3", "", "")))
  }

  test("PaginatedSource: drains pages by token, retries on throttle") {
    var throttled = false
    val pages = Map(
      None -> (Seq(("u1", "Ann"), ("u2", "Bo")), Some("p2")),
      (Some("p2"): Option[String]) -> (Seq(("u3", "Cy")), None))
    val src = PaginatedSource[(String, String)]("users", tok => {
      if (tok.contains("p2") && !throttled) {
        throttled = true; throw new ThrottledException("slow down")
      }
      pages(tok)
    }, retryDelayMs = 1L)
    val out = src.read(spark).collect()
    assert(out.length == 3)
    assert(throttled) // the retry path actually ran
  }

  test("Enrich: batch lookup join with defaults, no per-row RPC") {
    val calls = Seq(("c1", "a1"), ("c2", "a404")).toDF("contact_id", "agent_id")
    val lookup = Seq(("a1", "Ann")).toDF("agent_id", "agent_name")
    val out = Enrich.withLookup(calls, lookup, "agent_id",
      Map("agent_name" -> "unknown"))
    val m = out.collect().map(r =>
      r.getAs[String]("contact_id") -> r.getAs[String]("agent_name")).toMap
    assert(m == Map("c1" -> "Ann", "c2" -> "unknown"))
  }

  test("FolderListing + Ledger: discovery, extension filter, late-file rule") {
    val root = tmpDir("folders")
    def mk(folder: String, files: String*): Unit = {
      val d = java.nio.file.Paths.get(root, folder)
      Files.createDirectories(d)
      files.foreach(f => Files.writeString(d.resolve(f), "Id\nx\n"))
    }
    mk("2024-05-01_Differential", "a.csv")
    mk("2024-05-02_Differential", "notes.txt") // no csv -> empty folder
    mk("2024-05-03_Differential")              // last, empty
    val listed = FolderListing.folders(spark, root)
    val byKey = listed.collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(byKey == Map("2024-05-01_" -> true, "2024-05-02_" -> false,
      "2024-05-03_" -> false))

    val ledger = new graft.operators.Ledger(spark, tmpDir("ledger") + "/ledger")
    val fresh = ledger.discoverNew(listed)
    assert(fresh.count() == 3)
    // late-file rule: only non-last empty folders are completable
    val completable = ledger.completable(fresh).collect().map(_.getString(0))
    assert(completable.toSet == Set("2024-05-01_", "2024-05-02_"))
    ledger.markProcessed(ledger.completable(fresh))
    val second = ledger.discoverNew(FolderListing.folders(spark, root))
    assert(second.collect().map(_.getString(0)).toSeq == Seq("2024-05-03_"))
  }

  test("streaming sink wiring: foreachBatch append-if-absent + quarantine") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpDir("stream")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val json = (id: String, t: String) =>
      s"""{"ContactId":"$id","InitiationTimestamp":"$t","LastUpdateTimestamp":"$t"}"""
    mem.addData(json("c1", "2024-01-01T10:00:00Z"),
      json("c1", "2024-01-01T10:00:00Z"), // in-batch dup
      json("c2", "2024-01-01T10:05:00Z"),
      "not json at all")                  // -> quarantine
    val (goodQ, badQ) = CtrPipeline.start(mem.toDF().toDF("payload"),
      s"$dir/target", s"$dir/quarantine", s"$dir/ckpt")
    goodQ.awaitTermination(); badQ.awaitTermination()

    val target = spark.read.parquet(s"$dir/target")
    assert(target.select("contact_id").as[String].collect().sorted.toSeq ==
      Seq("c1", "c2"))
    // a later batch re-sending c1 must NOT double-insert (M2 guard)
    mem.addData(json("c1", "2024-01-01T11:00:00Z"),
      json("c3", "2024-01-01T11:01:00Z"))
    val (goodQ2, badQ2) = CtrPipeline.start(mem.toDF().toDF("payload"),
      s"$dir/target", s"$dir/quarantine", s"$dir/ckpt")
    goodQ2.awaitTermination(); badQ2.awaitTermination()
    val after = spark.read.parquet(s"$dir/target")
    assert(after.count() == 3)
    assert(spark.read.parquet(s"$dir/quarantine").count() == 1)
  }

  test("EP1 end-to-end: CSV -> spec -> JSONL stage -> SCD1 -> view shape") {
    val dir = tmpDir("ep1")
    // two differential folders, the second carries a newer version of t1
    Files.writeString(java.nio.file.Paths.get(s"$dir/f1.csv"),
      "Id,Subject,Status,IsClosed,CreatedDate,LastModifiedDate\n" +
        "t1,Old subject,Open,0,2024-01-01 08:00:00,2024-01-01 08:00:00\n" +
        "t2,Keep me,Open,0,2024-01-01 09:00:00,2024-01-01 09:00:00\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/f2.csv"),
      "Id,Subject,Status,IsClosed,CreatedDate,LastModifiedDate\n" +
        "t1,New subject,Completed,1,2024-01-01 08:00:00,2024-01-02 08:00:00\n" +
        "t3,Brand new,Open,0,2024-01-02 09:00:00,2024-01-02 09:00:00\n")
    val batch = CsvSource("task", Seq(s"$dir/*.csv"), Some(TableSpecs.task))
      .read(spark)
    val stagePath = s"$dir/stage"
    JsonlStage.write(batch, stagePath)
    val staged = JsonlStage.read(spark, stagePath, TableSpecs.task)

    val target = staged.filter(col("id") === "__none__") // empty target
    val merged = Merge.scd1(target, staged, TableSpecs.task.keys,
      TableSpecs.task.ordering)
    val m = merged.collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("subject")).toMap
    assert(m == Map("t1" -> "New subject", "t2" -> "Keep me",
      "t3" -> "Brand new"))

    // view over the merged table: completed-count style aggregation runs
    val agg = merged.groupBy(col("status"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg == Map("Open" -> 2L, "Completed" -> 1L))
  }
}
