package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Once-per-round stream-stream join state-size evidence — the missing
  * scale leg of the q172 surface. q172 proves the join's CORRECTNESS
  * under an AvailableNow drain (inner pairs complete, orphans
  * null-extended exactly when the global watermark seals them); this
  * main proves the property that makes the operator survive a
  * long-RUNNING deployment: join state is WATERMARK-BOUNDED — under a
  * feed of hundreds of triggers with ever-advancing event time, the
  * symmetric-hash join's state plateaus at the watermark horizon
  * (roughly interval-window/trigger-step worth of rows per side) while
  * cumulative input grows without bound. Without eviction the state
  * would be the whole history and the operator would be a scale lie.
  *
  * The feed replicates q172's exact join shape (same-key equality, 6 h
  * interval, 500 ms watermark delay on both sides, left-outer): each
  * trigger advances event time by one 2 h step and adds `stepRows`
  * views (every 10th with NO matching click — a future orphan) plus
  * their offset-10-min clicks, user ids globally unique so every
  * pairing is closed-form. No-data micro-batches are disabled for the
  * run so each trigger is exactly one progress point and the state
  * series is deterministic; two max-event-time "tick" triggers flush
  * the final watermark's evictions (a data batch uses the watermark
  * committed by the PREVIOUS batch, so the last real step's seals need
  * one more batch to emit).
  *
  * Contracts `require`d in-run, all closed-form (the 500 ms offset
  * kills eviction-boundary ties — inputs are whole seconds):
  *  - inner pairs == steps*(stepRows - orphansPerStep) + 2 ticks
  *    (inner results are watermark-independent and complete);
  *  - sealed orphans == (steps-4) * orphansPerStep — a view at step s
  *    null-extends iff (steps-1-s)*step > window + 500 ms, i.e. the
  *    final watermark min(max_view, max_click) - 500 ms passed its
  *    admission window;
  *  - max state rows <= stateBoundSteps * stepRows — the watermark
  *    horizon (~5 steps of views + ~2 of clicks at window/step = 3),
  *    NOT the cumulative input;
  *  - the state series PLATEAUS: the post-warmup maximum does not grow
  *    between the second and fourth quarter of the feed;
  *  - eviction really ran: total numRowsRemoved covers the sealed
  *    history (every view evicted eventually except the tail horizon).
  *
  * Deliberately NOT a bench row (hundreds of micro-batches); same
  * rationale as [[AnnScale]] / [[ShardScale]].
  * Usage: runMain graft.tools.StreamJoinScale [steps] [stepRows] [out]
  */
object StreamJoinScale {

  final case class StepStat(step: Int, stateRows: Long, removed: Long,
                            watermark: String)
  final case class Result(inputViews: Long, inputClicks: Long,
                          innerPairs: Long, sealedOrphans: Long,
                          series: Vector[StepStat], removedTotal: Long,
                          wallS: Double,
                          stateBytesByPartition: Vector[Long] = Vector.empty)

  private val StepMs = 7200000L // 2 h event-time advance per trigger
  private val WindowMs = 21600000L // q172's 6 h admission interval
  private val ClickOffsetMs = 600000L // clicks trail their view by 10 min
  // event time starts one day AFTER the epoch: a row at exactly the
  // initial watermark (epoch 0) is dropped as late by the join's
  // ingestion filter — a degenerate fixture, not a semantics claim
  // (observed: step-0 views at t=0 silently vanished, state held only
  // their clicks)
  private val BaseMs = 86400000L

  /** Drive `steps` triggers of the q172 join shape through a
    * MemoryStream pair, one micro-batch per trigger, recording the join
    * operator's state size from each trigger's progress.
    *
    * `hotFrac > 0` is the SKEW variant (SKEW_SCALE.json): that fraction
    * of each step's views carries ONE shared uid (the hot join key —
    * a celebrity user, a null-ish default id), with a single hot click
    * per step so the hot pair volume stays closed-form (each hot view
    * matches the hot clicks of its own and the next two steps: the 6 h
    * window spans 3 of the 2 h steps). Cold rows keep the balanced
    * variant's shape. Key-partitioned state stores hash ALL hot-key
    * rows to one partition by construction — the contract under skew is
    * NOT balance but boundedness: the hot partition's state is
    * O(horizon x hotFrac), never O(history), so the plateau and bound
    * checks are unchanged while `stateBytesByPartition` records how
    * lopsided the store actually got.
    *
    * `providerClass` optionally swaps the state store implementation
    * for the run (e.g. RocksDB) and restores the previous value. */
  def run(spark: SparkSession, steps: Int, stepRows: Int,
          hotFrac: Double = 0.0,
          providerClass: Option[String] = None): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    require(hotFrac >= 0.0 && hotFrac < 1.0, s"hotFrac in [0,1): $hotFrac")
    val hotRows = math.round(stepRows * hotFrac).toInt
    val coldRows = stepRows - hotRows
    require(steps >= 8 && coldRows >= 10 && coldRows % 10 == 0,
      "need >=8 steps and a cold share that is a positive multiple of 10")
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val noDataPrev = spark.conf.get(noData, "true")
    spark.conf.set(noData, "false")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val providerPrev = spark.conf.getOption(providerKey)
    providerClass.foreach(spark.conf.set(providerKey, _))
    val ckpt = Files.createTempDirectory("graft_sjs_ckpt_")
    // numRowsRemoved is a per-BATCH delta: the per-step sampling below
    // keeps only a step's final batch (a step the free-running trigger
    // splits loses the earlier batch's delta), so the eviction total
    // must come from a listener that sees EVERY progress event
    val removedTotal = new java.util.concurrent.atomic.AtomicLong
    @volatile var runId: java.util.UUID = null
    val listener = new org.apache.spark.sql.streaming
        .StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == runId)
          e.progress.stateOperators.headOption
            .foreach(so => removedTotal.addAndGet(so.numRowsRemoved))
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val vm = MemoryStream[(Long, Long, Long)]
      val cm = MemoryStream[(Long, Long, Long)]
      val v = vm.toDF().toDF("v_uid", "vid", "v_ms")
        .withColumn("v_ts", timestamp_millis(col("v_ms"))).drop("v_ms")
        .withWatermark("v_ts", "500 milliseconds")
      val c = cm.toDF().toDF("c_uid", "cid", "c_ms")
        .withColumn("c_ts", timestamp_millis(col("c_ms"))).drop("c_ms")
        .withWatermark("c_ts", "500 milliseconds")
      val joined = v.join(c,
        col("v_uid") === col("c_uid") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
      val inner = new java.util.concurrent.atomic.AtomicLong
      val orphans = new java.util.concurrent.atomic.AtomicLong
      val q0 = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          val r = df.agg(
            count(col("cid")).as("i"),
            sum(when(col("cid").isNull, 1L).otherwise(0L)).as("o"))
            .collect()(0)
          inner.addAndGet(r.getLong(0))
          orphans.addAndGet(if (r.isNullAt(1)) 0L else r.getLong(1))
          if (sys.env.contains("SJS_DEBUG"))
            println(s"[sjs] batch=$bid inner=${r.getLong(0)} orph=${
              if (r.isNullAt(1)) 0L else r.getLong(1)}")
          ()
        }
        .start()
      val q = q0
      runId = q.runId
      val t0 = System.nanoTime()
      var views = 0L
      var clicks = 0L
      val series = Vector.newBuilder[StepStat]
      // progress posts asynchronously after processAllAvailable
      // returns, and the free-running trigger may split a step across
      // batches (or run an empty initial batch): poll until the batch
      // id stops advancing — with no-data batches disabled and the
      // step's data fully committed, the id can only settle on the
      // step's FINAL batch
      var prevBatch = -1L
      def stat(step: Int): StepStat = {
        var p: StreamingQueryProgress = q.lastProgress
        var n = 0
        while ((p == null || p.batchId <= prevBatch
            || p.stateOperators.isEmpty) && n < 1000) {
          Thread.sleep(5); p = q.lastProgress; n += 1
        }
        require(p != null && p.batchId > prevBatch
            && p.stateOperators.nonEmpty,
          s"no progress past batch $prevBatch for step $step")
        var stable = 0
        while (stable < 6) { // 30 ms with no further batch = settled
          Thread.sleep(5)
          val p2 = q.lastProgress
          if (p2.batchId == p.batchId) stable += 1
          else { p = p2; stable = 0 }
        }
        prevBatch = p.batchId
        val so = p.stateOperators.head
        if (sys.env.contains("SJS_DEBUG"))
          println(s"[sjs] step=$step batch=${p.batchId} state=${
            so.numRowsTotal} wm=${p.eventTime.get("watermark")}")
        StepStat(step, so.numRowsTotal, so.numRowsRemoved,
          Option(p.eventTime.get("watermark")).getOrElse(""))
      }
      for (s <- 0 until steps) {
        val t = BaseMs + s.toLong * StepMs
        val base = s.toLong * stepRows
        // hot rows share uid -1 (never colliding with the non-negative
        // cold/tick uids); ONE hot click per step keeps the hot pair
        // count closed-form (see `check`)
        vm.addData((0 until coldRows).map(i => (base + i, base + i, t)) ++
          (0 until hotRows).map(i => (-1L, base + coldRows + i, t)))
        cm.addData((0 until coldRows).filter(_ % 10 != 0)
          .map(i => (base + i, base + i, t + ClickOffsetMs)) ++
          (if (hotRows > 0)
            Seq((-1L, base + stepRows.toLong, t + ClickOffsetMs))
          else Seq.empty))
        views += stepRows
        clicks += coldRows - coldRows / 10 + (if (hotRows > 0) 1 else 0)
        q.processAllAvailable()
        series += stat(s)
      }
      // two ticks at the already-seen max event times: they advance no
      // watermark but give the engine the data batches in which the
      // FINAL watermark's evictions emit (and pin state stays flat)
      val tMax = BaseMs + (steps - 1).toLong * StepMs
      for (k <- 0 until 2) {
        val uid = (steps + k).toLong * stepRows
        vm.addData(Seq((uid, uid, tMax)))
        cm.addData(Seq((uid, uid, tMax + ClickOffsetMs)))
        views += 1; clicks += 1
        q.processAllAvailable()
        series += stat(steps + k)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the last progress event reach the listener
      q.stop()
      // per-partition on-disk state footprint (all four join stores per
      // partition summed) — the skew variant's balance evidence. File
      // sizes include not-yet-swept delta history, so this is a SHAPE
      // signal (hot-partition share), not an exact row count.
      val stateRoot = new java.io.File(ckpt.toFile, "state/0")
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      val partBytes = Option(stateRoot.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("\\d+"))
        .sortBy(_.getName.toInt).map(du).toVector
      Result(views, clicks, inner.get(), orphans.get(),
        series.result(), removedTotal.get(), wallS, partBytes)
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(noData, noDataPrev)
      providerClass.foreach { _ =>
        providerPrev match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(ckpt.toFile)
    }
  }

  /** The closed-form expectations and bounds for a `run(steps,
    * stepRows)`; shared by the main and the spec so both assert the
    * identical contract. */
  def check(r: Result, steps: Int, stepRows: Int,
            stateBoundSteps: Int = 10, hotFrac: Double = 0.0): Unit = {
    val hotRows = math.round(stepRows * hotFrac).toInt
    val coldRows = stepRows - hotRows
    val orphPerStep = coldRows / 10
    // hot views at step s match the single hot click of steps
    // s..min(s+2, steps-1): 3 each except the last two steps ->
    // hotRows * (3*steps - 3) pairs; hot views never orphan
    val expInner = steps.toLong * (coldRows - orphPerStep) +
      hotRows.toLong * (3L * steps - 3) + 2
    val expOrphans = (steps - 4).toLong * orphPerStep
    require(r.innerPairs == expInner,
      s"inner pairs ${r.innerPairs} != expected $expInner")
    require(r.sealedOrphans == expOrphans,
      s"sealed orphans ${r.sealedOrphans} != expected $expOrphans")
    val maxState = r.series.map(_.stateRows).max
    val bound = stateBoundSteps.toLong * stepRows
    require(maxState <= bound,
      s"state $maxState exceeds watermark-horizon bound $bound")
    val q2 = r.series.slice(steps / 4, steps / 2).map(_.stateRows).max
    val q4 = r.series.drop(3 * steps / 4).map(_.stateRows).max
    require(q4 <= q2,
      s"state grew past warmup: q2 max $q2 -> q4 max $q4")
    // numRowsRemoved on this operator observes the RIGHT side's
    // eviction only (measured: listener-complete totals land at
    // clicks - final click state; the left side's outer-path removals
    // emit null-extensions without updating the metric). The state
    // GAUGE plateau above is the boundedness pin — this floor proves
    // the eviction machinery ran at the click history's scale, with
    // 2 horizons of slack for final state + listener tail
    // On a SHORT feed (clicks within a few horizons) the whole click
    // history may legitimately still be in state at stop time, so the
    // floor only binds once the feed outruns the horizon — at evidence
    // scale (400 steps) clicks >> bound and the floor is the full
    // sealed history, exactly as before.
    val floor = math.max(0L, r.inputClicks - 2 * bound)
    require(r.removedTotal >= floor,
      s"eviction too small: removed ${r.removedTotal} < floor $floor")
    // keep a NONZERO eviction signal at spec scale too: once the feed
    // outruns the horizon by any margin, at least one sealed click must
    // have been physically removed — without this, a short feed whose
    // computed floor is 0 would pass with eviction entirely broken
    if (r.inputClicks > bound)
      require(r.removedTotal > 0,
        s"feed outran the horizon (${r.inputClicks} clicks > bound " +
          s"$bound) yet nothing was evicted")
    ()
  }

  /** The RocksDB leg alone, against the COMMITTED default-provider
    * artifact: the join's output is closed-form in (steps, stepRows)
    * — [[check]] requires the exact inner/orphan counts — so one gated
    * RocksDB pass proves "same contracts, different state store"
    * without re-paying the default passes STREAMJOIN_SCALE.json
    * already holds. Usage: runMain graft.tools.StreamJoinScale rocks
    * [steps] [stepRows] [out] (also reachable via the full main, which
    * appends a rocks pass to every regeneration). */
  private def rocksOnly(args: Array[String]): Unit = {
    val steps = args.lift(1).map(_.toInt).getOrElse(400)
    val stepRows = args.lift(2).map(_.toInt).getOrElse(5000)
    val out = args.lift(3).getOrElse("STREAMJOIN_ROCKSDB.json")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.driver.memory", "48g")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = run(spark, steps, stepRows, providerClass = Some(
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider"))
    check(r, steps, stepRows)
    val maxState = r.series.map(_.stateRows).max
    val json =
      s"""{"recipe":"the STREAMJOIN_SCALE feed under the RocksDB """ +
        s"""state store provider - identical closed-form contracts """ +
        s"""(exact inner/orphan counts, watermark-bounded plateau) """ +
        s"""required in-run; compare wall/state to the committed """ +
        s"""default-provider artifact","provider":"RocksDBStateStore""" +
        s"""Provider","steps":$steps,"step_rows":$stepRows,""" +
        s""""input_rows":${r.inputViews + r.inputClicks},""" +
        s""""inner_pairs":${r.innerPairs},""" +
        s""""sealed_orphans":${r.sealedOrphans},""" +
        s""""max_state_rows":$maxState,""" +
        s""""state_removed_total":${r.removedTotal},""" +
        f""""wall_s":${r.wallS}%.1f,""" +
        s""""inner_exact":true,"orphans_exact":true,""" +
        s""""state_plateaus":true}\n"""
    Files.writeString(Paths.get(out), json)
    println(f"[streamjoinscale] rocks wall=${r.wallS}%.1fs " +
      f"max_state=$maxState inner=${r.innerPairs}")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("rocks")) { rocksOnly(args); return }
    val steps = args.headOption.map(_.toInt).getOrElse(400)
    val stepRows = args.lift(1).map(_.toInt).getOrElse(5000)
    val out = args.lift(2).getOrElse("STREAMJOIN_SCALE.json")
    // min-over-N (the SHARD_SCALE discipline): each repetition drives
    // the FULL feed and must pass every closed-form contract; the
    // recorded wall is the minimum (host steal across hundreds of
    // micro-batches inflates a single-shot wall). The join OUTPUT is
    // deterministic (require below); the state-row SERIES is not
    // bit-reproducible (the free-running trigger may split a step into
    // different batch boundaries run-to-run), so each run's series is
    // bound-checked by `check` and the recorded series is the
    // fastest run's.
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.driver.memory", "48g")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val per = (1 to scaleRuns).map { i =>
      val r = run(spark, steps, stepRows)
      check(r, steps, stepRows)
      println(f"[streamjoinscale] pass $i/$scaleRuns wall=${r.wallS}%.1fs")
      r
    }
    val ident = per.map(r => (r.inputViews, r.inputClicks, r.innerPairs,
      r.sealedOrphans)).distinct
    require(ident.size == 1,
      s"non-deterministic join output across runs: $ident")
    val r = per.minBy(_.wallS)
    // the SAME feed under the RocksDB state store (the provider a
    // 100 TB deployment runs, where join state must spill to disk
    // instead of living on the executor heap): every closed-form
    // contract must hold identically — the provider is an
    // implementation swap, never a semantics change — and the wall is
    // recorded next to the default provider's
    val rocks = run(spark, steps, stepRows, providerClass = Some(
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider"))
    check(rocks, steps, stepRows)
    require((rocks.innerPairs, rocks.sealedOrphans) ==
        (r.innerPairs, r.sealedOrphans),
      "RocksDB provider changed the join output: " +
        s"(${rocks.innerPairs}, ${rocks.sealedOrphans}) vs " +
        s"(${r.innerPairs}, ${r.sealedOrphans})")
    println(f"[streamjoinscale] rocksdb wall=${rocks.wallS}%.1fs " +
      f"max_state=${rocks.series.map(_.stateRows).max}")
    val input = r.inputViews + r.inputClicks
    val maxState = r.series.map(_.stateRows).max
    val removed = r.removedTotal
    val sample = (r.series.zipWithIndex
      .filter { case (_, i) => i % 25 == 0 || i >= r.series.size - 3 }
      .map(_._1))
      .map(s => s"""{"step":${s.step},"state_rows":${s.stateRows},""" +
        s""""removed":${s.removed},"watermark":"${s.watermark}"}""")
    val json =
      s"""{"recipe":"q172 join shape (6h interval, 500ms watermarks, """ +
        s"""left-outer) fed $steps MemoryStream triggers advancing 2h """ +
        s"""each","steps":$steps,"step_rows":$stepRows,""" +
        s""""runs":$scaleRuns,""" +
        s""""input_rows":$input,"inner_pairs":${r.innerPairs},""" +
        s""""sealed_orphans":${r.sealedOrphans},""" +
        s""""max_state_rows":$maxState,""" +
        s""""final_state_rows":${r.series.last.stateRows},""" +
        s""""state_removed_total":$removed,""" +
        f""""input_to_state_ratio":${input.toDouble / maxState}%.1f,""" +
        f""""wall_s":${r.wallS}%.1f,""" +
        f""""rows_per_s":${input / r.wallS}%.0f,""" +
        s""""inner_exact":true,"orphans_exact":true,""" +
        s""""state_plateaus":true,""" +
        s""""rocksdb":{"provider":"RocksDBStateStoreProvider",""" +
        f""""wall_s":${rocks.wallS}%.1f,""" +
        s""""max_state_rows":${rocks.series.map(_.stateRows).max},""" +
        s""""same_output":true,"contracts_hold":true},""" +
        s""""per_step_sample":[${sample.mkString(",")}]}\n"""
    Files.writeString(Paths.get(out), json)
    println(f"[streamjoinscale] input=$input inner=${r.innerPairs} " +
      f"orphans=${r.sealedOrphans} max_state=$maxState " +
      f"ratio=${input.toDouble / maxState}%.1f wall=${r.wallS}%.1fs")
    spark.stop()
  }
}
