package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.TableSpecs
import graft.operators.{Ledger, Merge}
import graft.queries.AgentMetrics
import graft.sources.{CsvSource, JsonlStage}

/** `warehouse_cdc`: the reference's load-then-query loop. A write op
  * discovers the next contact-record drop through the ledger, reads it
  * through the cast battery (every third drop staged to JSON lines
  * first), SCD1-merges it into the date-partitioned `f_calls` and the
  * bucketed agent dimension, and marks it processed. A read op is the
  * agent-metrics view over the current tables. Round: 1 write, 1 read.
  * After the timed phase, one staged load per round of a fixed drop
  * whose optional columns are empty in every row (`staged_sparse_write`,
  * into a table of its own): it is counted but kept out of `cpu_s`. */
object Warehouse extends Workload {
  private val Buckets = 8
  private val MinRounds = 2

  private var state: String = _
  private var dim: String = _
  private var drops: Seq[String] = Nil
  private var next = 0
  private var lastView: Array[Row] = Array.empty
  private var viewSchema: org.apache.spark.sql.types.StructType = _
  private var storeMb = 0.0
  private var timedRounds = 0
  private val processed = scala.collection.mutable.ArrayBuffer.empty[String]
  private val rewritten = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val written = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val coerceS = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def fact = s"$state/f_calls"
  private def ledgerPath = s"$state/ledger"

  def setup(ctx: Ctx, rep: Int, last: Boolean): Double = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val dir = s"${ctx.work}/state$rep"
    val table = s"dim_agents_$rep"
    val calls = CsvSource("seed_calls", Seq(s"${ctx.in}/seed_calls"),
      Some(TableSpecs.fCalls)).read(spark)
    Merge.scd1Partitioned(s"$dir/f_calls", withDate(calls),
      Seq("contact_id"), "last_update_time", "init_date")
    Merge.scd1Bucketed(table, CsvSource("seed_agents", Seq(s"${ctx.in}/seed_agents"),
      Some(TableSpecs.dimUsersConnect)).read(spark),
      Seq("user_id"), "last_modified", Buckets)
    Seq("queues", "litify_users").foreach { d =>
      spark.read.option("header", "true").csv(s"${ctx.in}/$d").write.parquet(s"$dir/$d")
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (last) {
      Merge.scd1Partitioned(s"$dir/sparse", withDate(sparseDrop(ctx, Some(TableSpecs.fCalls))),
        Seq("contact_id"), "last_update_time", "init_date")
      state = dir; dim = table
      drops = new java.io.File(s"${ctx.in}/drops").list().sorted.toSeq
    } else {
      spark.sql(s"DROP TABLE $table")
      Files.delete(dir)
    }
    s
  }

  private def sparseDrop(ctx: Ctx, spec: Option[graft.core.TableSpec]): DataFrame =
    CsvSource("sparse", Seq(s"${ctx.in}/sparse_drop/calls.csv"), spec).read(ctx.spark)

  /** The fixed sparse drop staged through JSON lines and merged. */
  private def stagedSparse(ctx: Ctx): Long = {
    val stage = s"${ctx.work}/stage/sparse"
    JsonlStage.write(sparseDrop(ctx, None), stage)
    Merge.scd1Partitioned(s"$state/sparse",
      withDate(JsonlStage.read(ctx.spark, stage, TableSpecs.fCalls)),
      Seq("contact_id"), "last_update_time", "init_date")
    2L
  }

  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("init_date", to_date(col("init_time")))

  private def staticDim(ctx: Ctx, name: String): DataFrame =
    ctx.spark.read.parquet(s"$state/$name")

  /** One drop loaded; returns the staged rows merged. */
  private def write(ctx: Ctx): Long = {
    val spark = ctx.spark
    val rec = ctx.rec
    import spark.implicits._
    val key = drops(next)
    val ledger = new Ledger(spark, ledgerPath)
    val fresh = rec.span("operators.Ledger.discoverNew") {
      ledger.discoverNew(drops.take(next + 1).toDF("key")).collect().map(_.getString(0))
    }
    require(fresh.sameElements(Seq(key)),
      s"ledger discovered ${fresh.mkString(",")}, expected $key")
    val dropDir = s"${ctx.in}/drops/$key"
    val calls =
      if (next % 3 == 2) {
        val stage = s"${ctx.work}/stage/$key"
        JsonlStage.write(CsvSource("calls", Seq(s"$dropDir/calls.csv")).read(spark), stage)
        JsonlStage.read(spark, stage, TableSpecs.fCalls)
      } else CsvSource("calls", Seq(s"$dropDir/calls.csv"), Some(TableSpecs.fCalls)).read(spark)
    val agents = CsvSource("agents", Seq(s"$dropDir/agents.csv"),
      Some(TableSpecs.dimUsersConnect)).read(spark)
    rec.span("operators.Merge.scd1Partitioned") {
      Merge.scd1Partitioned(fact, withDate(calls), Seq("contact_id"),
        "last_update_time", "init_date")
    }
    rec.span("operators.Merge.scd1Bucketed") {
      Merge.scd1Bucketed(dim, agents, Seq("user_id"), "last_modified", Buckets)
    }
    rec.span("operators.Ledger.markProcessed") {
      ledger.markProcessed(Seq(key).toDF("key"))
    }
    processed += key
    next += 1
    lineCount(s"$dropDir/calls.csv") + lineCount(s"$dropDir/agents.csv")
  }

  private def lineCount(path: String): Long = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().size - 1L finally src.close()
  }

  private def read(ctx: Ctx): Long = {
    val spark = ctx.spark
    val view = AgentMetrics.viewAgentMetrics(spark.read.parquet(fact),
      spark.table(dim), staticDim(ctx, "queues"), staticDim(ctx, "litify_users"))
    val rows = ctx.rec.span("queries.AgentMetrics.viewAgentMetrics")(view.collect())
    lastView = rows; viewSchema = view.schema
    rows.length.toLong
  }

  /** Files of the fact and dimension tables, by partition dir. */
  private def listing(ctx: Ctx): Map[String, Set[String]] =
    (Files.dataFiles(fact) ++ Files.dataFiles(s"${ctx.work}/warehouse/$dim"))
      .groupBy(_.getParent).map { case (d, fs) => d -> fs.map(_.getName).toSet }

  def warmup(ctx: Ctx): Unit = { write(ctx); read(ctx) }

  def timed(ctx: Ctx): Int = {
    val rec = ctx.rec
    timedRounds = ctx.rounds(MinRounds) { r =>
      if (next >= drops.size) false else {
        val before = if (rec.traced) listing(ctx) else Map.empty[String, Set[String]]
        val key = drops(next)
        rec.op("write")(write(ctx))
        if (rec.traced) {
          val after = listing(ctx)
          val factDirs = after.keys.filter(_.startsWith(new java.io.File(fact).getPath))
          rewritten += factDirs.count(d => after(d) != before.getOrElse(d, Set.empty)).toDouble
          written += after.map { case (d, fs) => (fs -- before.getOrElse(d, Set.empty)).size }.sum.toDouble
          // the drop's read + cast battery alone, materialized
          val t0 = System.nanoTime()
          CsvSource("calls", Seq(s"${ctx.in}/drops/$key/calls.csv"), Some(TableSpecs.fCalls))
            .read(ctx.spark).write.format("noop").mode("overwrite").save()
          coerceS += (System.nanoTime() - t0) / 1e9
        }
        rec.op("read")(read(ctx))
        if (r == 0) // store_mb is taken after the first timed round
          storeMb = Files.mib(fact, s"${ctx.work}/warehouse/$dim", ledgerPath)
        true
      }
    }
    timedRounds
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    (0 until timedRounds).foreach(_ => ctx.rec.op("staged_sparse_write")(stagedSparse(ctx)))
    ctx.metric("store_mb", storeMb, "MiB")
    val chk = s"${ctx.out}/check"
    spark.createDataFrame(java.util.Arrays.asList(lastView: _*), viewSchema)
      .coalesce(1).write.parquet(s"$chk/view")
    Files.write(s"$chk/tables.json", s"""{"f_calls": ${Json.str(fact)}, """ +
      s""""dim": ${Json.str(s"${ctx.work}/warehouse/$dim")}, "ledger": ${Json.str(ledgerPath)}}""")
    Files.write(s"$chk/processed.txt", processed.mkString("", "\n", "\n"))
    if (ctx.rec.traced) {
      val rec = ctx.rec
      ctx.layerMedian("sources.read_coerce_s", coerceS.toSeq)
      ctx.layerMedian("operators.Ledger.discover_s", rec.spanSeconds("operators.Ledger.discoverNew"))
      ctx.layerMedian("operators.Ledger.mark_s", rec.spanSeconds("operators.Ledger.markProcessed"))
      ctx.layerMedian("operators.Merge.fact_s", rec.spanSeconds("operators.Merge.scd1Partitioned"))
      ctx.layerMedian("operators.Merge.dim_s", rec.spanSeconds("operators.Merge.scd1Bucketed"))
      ctx.layerMedian("operators.Merge.partitions_rewritten", rewritten.toSeq, "count")
      ctx.layerMedian("operators.Merge.files_written", written.toSeq, "count")
      ctx.layerMedian("queries.AgentMetrics.view_s",
        rec.spanSeconds("queries.AgentMetrics.viewAgentMetrics"))
    }
  }
}
