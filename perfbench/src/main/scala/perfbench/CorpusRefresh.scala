package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Bpe, BpeByteVocab}
import graft.operators.{Dedup, Similarity}
import graft.streaming.{RefreshPipeline, ShardSink, VectorIndexSink}

/** `corpus_refresh`: the streamed crawl refresh in its cross-store shape,
  * and retrieval served off the index it maintains.
  *
  * Set-up packs a prior corpus as shard-store v0 and builds, saves and
  * loads its IVF-PQ index in the production configuration (m = 8,
  * kCodes = 256, nLists = floor(sqrt(n))). Each round drops two trigger
  * files into the stream's input dir and drains them with one
  * `RefreshPipeline.run` (write ops are the triggers, timed from query
  * progress), then serves two probe batches (read ops):
  * `VectorIndexSink.read` + `ivfPqQueryRefined` (k = 10, nProbe =
  * nLists / 4, refine 10) over the refreshed index. Probe batches arrive
  * as client-side rows; the first after a drain also carries four
  * originals of the newest trigger, which must come back at rank 1. */
object CorpusRefresh extends Workload {
  private val Budget = 512
  private val PerRound = 2
  private val ReadsPerRound = 2
  private val K = 10
  private val Refine = 10

  private var state: String = _
  private var files: Seq[java.io.File] = Nil
  private var next = 0
  private var version = 0L
  private var storeMb = 0.0
  private var scratchBatch = 0L
  private var nLists = 0
  private var nProbe = 0
  private var reads = 0
  private var probeRows: IndexedSeq[Seq[Row]] = IndexedSeq.empty
  private var selfRows: Map[String, Seq[Row]] = Map.empty
  private var probeSchema: org.apache.spark.sql.types.StructType = _
  private val fed = scala.collection.mutable.ArrayBuffer.empty[String]
  private val results = scala.collection.mutable.ArrayBuffer.empty[Row]
  private val startS, planS, addBatchS, buildS, saveS, loadS, candS =
    scala.collection.mutable.ArrayBuffer.empty[Double]
  private val layerS = scala.collection.mutable.LinkedHashMap.empty[String,
    scala.collection.mutable.ArrayBuffer[Double]]
  private var bpeTokens = 0L
  private var bpeSeconds = 0.0

  private def prior(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.in}/prior")
  private def benchmark(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.in}/benchmark")
  private def store = s"$state/store"
  private def ix = s"$state/ix"
  private def ledger = s"$state/ledger"
  private def withIds(df: DataFrame) =
    df.withColumn("__ids", Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))

  private def clock[T](buf: scala.collection.mutable.ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally buf += (System.nanoTime() - t0) / 1e9
  }

  def setup(ctx: Ctx, rep: Int, last: Boolean): Double = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/state$rep"
    val t0 = System.nanoTime()
    ShardSink.append(spark, withIds(prior(ctx)), "__ids", "doc_id", Budget,
      "source", s"$dir/store")
    val n = prior(ctx).count()
    nLists = math.floor(math.sqrt(n.toDouble)).toInt
    nProbe = math.max(1, nLists / 4)
    val idx = clock(buildS)(Similarity.ivfPqBuild(prior(ctx), vecCol = "embedding",
      idCol = "doc_id", nLists = nLists, m = 8, kCodes = 256, iterations = 2))
    clock(saveS)(Similarity.ivfPqSave(idx, s"$dir/ix"))
    clock(loadS)(Similarity.ivfPqLoad(spark, s"$dir/ix").encoded.count())
    val s = (System.nanoTime() - t0) / 1e9
    if (last) {
      state = dir
      files = new java.io.File(s"${ctx.in}/triggers").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      // the client's probe batches and each trigger's self-probes, held
      // as driver rows: a probe batch arrives with the request
      val probes = spark.read.parquet(s"${ctx.in}/probes")
      probeSchema = probes.drop("batch").schema
      val byBatch = probes.collect().groupBy(_.getAs[Int]("batch"))
      probeRows = (0 until byBatch.size).map(b => byBatch(b).toSeq.map(probeRow))
      val selfIds = files.map { f =>
        val name = f.getName.stripSuffix(".parquet")
        val src = scala.io.Source.fromFile(s"${ctx.in}/self_probes/$name.txt")
        f.getName -> (try src.getLines().map(_.toLong).toList finally src.close())
      }
      val byId = spark.read.parquet(files.map(_.getPath): _*)
        .filter(col("doc_id").isin(selfIds.flatMap(_._2): _*))
        .select((-col("doc_id")).as("doc_id"), col("embedding")).collect()
        .map(r => -r.getLong(0) -> r).toMap
      selfRows = selfIds.map { case (name, ids) => name -> ids.map(byId) }.toMap
      if (ctx.rec.traced) {
        Files.copyTree(ix, s"$state/scratch_ix")
        ShardSink.append(spark, withIds(prior(ctx)), "__ids", "doc_id", Budget,
          "source", s"$state/scratch_store")
      }
    } else Files.delete(dir)
    s
  }

  private def probeRow(r: Row): Row = Row(r.getAs[Long]("doc_id"), r.getAs[Any]("embedding"))

  /** Feed the next `n` trigger files and drain them (a `drain` op when
    * `counted`, which fails unless the progress of all `n` triggers
    * arrives); returns the trigger progress of the drain. */
  private def drain(ctx: Ctx, n: Int, counted: Boolean): Seq[TriggerLog#Trigger] = {
    val spark = ctx.spark
    val batch = files.slice(next, next + n)
    batch.zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(s"$state/in/${f.getName}")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + (next + i) * 60000L)
      fed += f.getName
    }
    next += batch.size
    val sch = spark.read.parquet(batch.head.getPath).schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$state/in")
    ctx.triggers.drain()
    val t0 = System.currentTimeMillis()
    var ts = Seq.empty[TriggerLog#Trigger]
    def run(): Long = {
      ctx.rec.span("streaming.RefreshPipeline.run") {
        RefreshPipeline.run(stream, prior(ctx), benchmark(ctx), store, ledger,
          s"$state/ck", budget = Budget, indexDir = Some(ix))
      }
      ts = ctx.triggers.await(batch.size)
      batch.size.toLong
    }
    if (counted) ctx.rec.op("drain")(run()) else run()
    ts.headOption.foreach(t => startS += (t.startMs - t0) / 1e3)
    version = ts.map(_.batchId + 1).maxOption.getOrElse(version)
    ts
  }

  /** Probe batch `b`, plus the newest trigger's self-probes (negated
    * ids) when asked. */
  private def probes(ctx: Ctx, b: Int, withSelf: Boolean): DataFrame = {
    val rows = probeRows(b) ++ (if (withSelf) selfRows(fed.last) else Nil)
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), probeSchema)
  }

  /** One probe batch served; returns the probe vectors answered. */
  private def read(ctx: Ctx, withSelf: Boolean): Long = {
    val spark = ctx.spark
    val rec = ctx.rec
    val b = reads % probeRows.size
    val corpus = spark.read.parquet((s"${ctx.in}/prior" +:
        fed.map(f => s"${ctx.in}/triggers/$f")).toSeq: _*)
      .select("doc_id", "embedding")
    val idx = rec.span("streaming.VectorIndexSink.read") {
      VectorIndexSink.read(spark, ix, idCol = "doc_id")
    }
    val rows = rec.span("operators.Similarity.ivfPqQueryRefined") {
      Similarity.ivfPqQueryRefined(idx, corpus, probes(ctx, b, withSelf), K, nProbe,
        Refine, vecCol = "embedding", idCol = "doc_id").collect()
    }
    rows.foreach { r =>
      results += Row(reads, b, fed.size, r.getAs[Long]("probe_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"), r.getAs[Long]("l2_dist"))
    }
    reads += 1
    rows.map(_.getAs[Long]("probe_id")).distinct.length.toLong
  }

  /** The ADC candidate pass alone for probe batch `b`. */
  private def candidates(ctx: Ctx, b: Int): Unit = {
    val idx = VectorIndexSink.read(ctx.spark, ix, idCol = "doc_id")
    clock(candS)(Similarity.ivfPqQuery(idx, probes(ctx, b, withSelf = false),
      Refine * K, nProbe, "embedding", "doc_id").collect())
  }

  private def digest(ctx: Ctx, asOf: Long): Unit =
    ShardSink.read(ctx.spark, store, asOf = Some(asOf))
      .agg(count(lit(1)), sum(col("n_tokens")).cast("long"), max(col("n_tokens")),
        sum(xxhash64(col("source"), col("seq_id"), col("token_ids"))))
      .collect()

  def warmup(ctx: Ctx): Unit = {
    drain(ctx, 1, counted = false)
    read(ctx, withSelf = true)
  }

  private def timeLayer(name: String)(body: => Any): Unit =
    clock(layerS.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty))(body)

  /** The trigger's tiers and store calls as separate public calls on its
    * input file, after the round. */
  private def layerCalls(ctx: Ctx, f: java.io.File, back: Int): Unit = {
    val spark = ctx.spark
    val batch = spark.read.parquet(f.getPath)
    timeLayer("operators.Dedup.exact_s") {
      Dedup.exactIncremental(batch, prior(ctx), "text", "doc_id").count()
    }
    timeLayer("operators.Dedup.near_s") {
      Dedup.nearIncremental(batch, prior(ctx), "text", "doc_id").count()
    }
    timeLayer("operators.Dedup.decontam_s") {
      Dedup.ngramDecontaminate(batch, benchmark(ctx), "text", "doc_id", n = 5,
        minMatches = 2).filter(col("contaminated")).count()
    }
    val t0 = System.nanoTime()
    val toks = batch.select(sum(size(Bpe.byteTokenIds(col("text"),
      BpeByteVocab.merges))).cast("long")).collect()(0).getLong(0)
    val bpe = (System.nanoTime() - t0) / 1e9
    layerS.getOrElseUpdate("functions.Bpe.encode_s",
      scala.collection.mutable.ArrayBuffer.empty) += bpe
    bpeTokens += toks; bpeSeconds += bpe
    timeLayer("streaming.ShardSink.append_s") {
      ShardSink.append(spark, withIds(batch), "__ids", "doc_id", Budget, "source",
        s"$state/scratch_store")
    }
    timeLayer("streaming.VectorIndexSink.append_s") {
      VectorIndexSink.appendBatch(spark, s"$state/scratch_ix", scratchBatch, batch,
        "embedding", "doc_id")
    }
    scratchBatch += 1
    // a store snapshot digest as of this round's versions
    timeLayer("streaming.ShardSink.read_s")(digest(ctx, version - back))
  }

  def timed(ctx: Ctx): Int = {
    val rec = ctx.rec
    ctx.rounds(minRounds = 1) { r =>
      if (next + PerRound > files.size) false else {
        val round = files.slice(next, next + PerRound)
        drain(ctx, PerRound, counted = true).foreach { t =>
          rec.external("write", t.startMs, t.wallS, t.rows)
          planS += t.planS; addBatchS += t.addBatchS
        }
        (0 until ReadsPerRound).foreach { i =>
          rec.op("read")(read(ctx, withSelf = i == 0))
          if (rec.traced) candidates(ctx, (reads - 1) % probeRows.size)
        }
        if (r == 0) storeMb = Files.mib(store, ledger, ix)
        if (rec.traced) round.zipWithIndex.foreach { case (f, i) => layerCalls(ctx, f, i) }
        true
      }
    }
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.metric("store_mb", storeMb, "MiB")
    val chk = s"${ctx.out}/check"
    VectorIndexSink.read(spark, ix, idCol = "doc_id").encoded.select("doc_id")
      .write.parquet(s"$chk/index_ids")
    val s = ShardSink.read(spark, store)
      .agg(count(lit(1)), sum(col("n_tokens")).cast("long"), max(col("n_tokens")))
      .collect()(0)
    Files.write(s"$chk/store.json", s"""{"sequences": ${s.getLong(0)}, """ +
      s""""tokens": ${s.getLong(1)}, "max_tokens": ${s.getInt(2)}, "budget": $Budget}""")
    Files.write(s"$chk/triggers.txt", fed.mkString("", "\n", "\n"))
    Files.write(s"$chk/merges.json", BpeByteVocab.merges
      .map { case (a, b) => s"[${Json.str(a)}, ${Json.str(b)}]" }.mkString("[", ",\n", "]\n"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("read_op", "probe_batch", "n_fed").map(
      StructField(_, IntegerType)) ++ Seq("probe_id", "neighbor_id", "rank", "l2_dist")
      .map(StructField(_, LongType)))
    spark.createDataFrame(java.util.Arrays.asList(results.toSeq: _*), schema)
      .coalesce(1).write.parquet(s"$chk/results")
    Files.write(s"$chk/serving.json", s"""{"k": $K, "n_lists": $nLists, "n_probe": $nProbe}""")
    if (ctx.rec.traced) {
      val rec = ctx.rec
      ctx.layerMedian("streaming.RefreshPipeline.trigger_s", rec.good("write").map(_.wallS))
      ctx.layerMedian("streaming.RefreshPipeline.plan_s", planS.toSeq)
      ctx.layerMedian("streaming.RefreshPipeline.add_batch_s", addBatchS.toSeq)
      ctx.layerMedian("streaming.RefreshPipeline.start_s", startS.toSeq)
      val jobs = rec.good("write").map(o => ctx.trace.get.jobsIn(o.startMs, o.endMs).size.toDouble)
      ctx.layerMedian("streaming.RefreshPipeline.jobs_per_trigger", jobs, "count")
      layerS.foreach { case (k, v) => ctx.layerMedian(k, v.toSeq) }
      ctx.layer("functions.Bpe.tokens_per_s", bpeTokens / math.max(1e-9, bpeSeconds), "1/s")
      val dirs = Option(new java.io.File(store).listFiles()).toSeq.flatten
      ctx.layer("streaming.ShardSink.versions",
        dirs.count(d => d.isDirectory && d.getName.matches("v\\d+")).toDouble, "count")
      ctx.layer("streaming.ShardSink.files", Files.dataFiles(store).size.toDouble, "count")
      ctx.layerMedian("operators.Similarity.build_s", buildS.toSeq)
      ctx.layerMedian("operators.Similarity.save_s", saveS.toSeq)
      ctx.layerMedian("operators.Similarity.load_s", loadS.toSeq)
      ctx.layerMedian("operators.Similarity.candidates_s", candS.toSeq)
      val refined = rec.spanSeconds("operators.Similarity.ivfPqQueryRefined")
      ctx.layerMedian("operators.Similarity.refine_s",
        refined.zip(candS).map { case (a, b) => math.max(0.0, a - b) })
      ctx.layerMedian("streaming.VectorIndexSink.read_s",
        rec.spanSeconds("streaming.VectorIndexSink.read"))
      ctx.layer("streaming.VectorIndexSink.deltas", Option(new java.io.File(s"$ix/appends")
        .listFiles()).toSeq.flatten.count(_.isDirectory).toDouble, "count")
    }
  }
}
