package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Similarity

/** Generation-managed root over a delta store — the operational layer
  * that turns the stores' manual alternating-two-dirs compaction
  * pattern into a verb. Both [[ShardSink.compact]] and
  * [[VectorIndexSink.compact]] refuse a used target and never rewrite
  * in place, which forces every deployment into the same dance: fold
  * into a fresh sibling, swap the readers over, retire the old layout.
  * A StoreRoot makes that dance atomic and addressable: the root
  * directory holds generation dirs `gen0, gen1, ...` and one
  * `_graft_manifest` naming the CURRENT generation; readers and
  * appenders address the root, and [[compactShard]]/[[compactVectors]]
  * fold the current generation into the next, swap the manifest (ONE
  * atomic rename — the commit point), and retire the predecessor.
  *
  * The version timeline is GLOBAL across generations. A fold carries
  * a `_graft_compacted_from` marker whose `max` is the retention
  * floor: the fresh generation's base IS the store's state as of that
  * version/batch, so
  *  - an append keyed at or below the floor is already folded in —
  *    the at-least-once re-delivery path ACROSS a compaction boundary
  *    ([[appendShard]]/[[appendVectors]] return false, exactly as
  *    [[StoreFiles.publishOnce]] skips re-delivery WITHIN a
  *    generation);
  *  - an `asOf` at the floor is served by the base alone, an `asOf`
  *    ABOVE it by base + retained deltas, and an `asOf` BELOW it
  *    fails loudly ([[readShard]]/[[readVectors]]) — pre-floor
  *    history exists nowhere, and serving the base as if it were an
  *    older version would be a silently wrong snapshot. The
  *    Delta-Lake-VACUUM contract, enforced rather than documented.
  *
  * Crash windows (each verb single-writer, as the stores require):
  * the fold commits BEFORE the swap (a crash between leaves a
  * committed-but-unreferenced next generation that the next
  * [[compactShard]] RESUMES — versions appended after the crash are
  * topped up verbatim, O(late-deltas), never a redo); the swap commits
  * BEFORE the retire (a crash between leaves an unretired predecessor
  * the next compaction sweeps). Readers never observe a partial state:
  * the manifest either names the old generation (fold invisible) or
  * the new one (fold complete, marker in place).
  *
  * The O(current store) fold need not sit on a drain's critical path:
  * [[beginCompactShard]]/[[beginCompactVectors]] run it on a
  * background thread over the generation's IMMUTABLE committed
  * versions while appends keep landing, and [[finishCompact]] — the
  * only inline piece — tops up the late deltas, swaps, retires. The
  * begin/finish split commits through exactly the same on-disk states
  * as the synchronous verbs, so every crash window above (and its
  * heal) is unchanged. */
object StoreRoot {

  /** Atomic pointer to the current generation: `gen=<n>`. */
  val ManifestName = "_graft_manifest"

  private def genDir(root: String, g: Long): java.io.File =
    new java.io.File(root, s"gen$g")

  /** Initialize a fresh root at generation 0 and return gen0's path —
    * the caller seeds it (the prior pack at v0 for a shard store, an
    * ivfPqSave for a vector index) exactly as it would seed an
    * unmanaged store dir. Refuses a root that already has a
    * manifest. */
  def init(root: String): String = {
    require(!new java.io.File(root, ManifestName).isFile,
      s"store root $root is already initialized")
    val g0 = genDir(root, 0L)
    g0.mkdirs()
    writeManifest(root, 0L)
    g0.getAbsolutePath
  }

  def currentGen(root: String): Long =
    StoreFiles.readMarker(new java.io.File(root, ManifestName))
      .getOrElse(throw new IllegalStateException(
        s"no $ManifestName under $root - not a managed store root"))
      .apply("gen").toLong

  /** The current generation's directory — what readers that want to
    * hold a pinned pre-swap view may capture explicitly (they keep
    * working until the NEXT compaction retires it). */
  def currentDir(root: String): String =
    genDir(root, currentGen(root)).getAbsolutePath

  /** The retention floor: the highest version/batch folded into the
    * current generation's base (None for a generation with no
    * compaction lineage — gen0), or — when SIZE-TIERED folds have run
    * inside the current generation — the highest version any tier run
    * covers, whichever is higher. State at the floor is servable (it
    * IS the base / the runs serve it); anything below is gone. Under
    * windowed retention the marker's `floor` sits below its `max` —
    * the copied deltas between them stay individually addressable by
    * asOf. */
  def floor(root: String): Option[Long] = {
    val dir = currentDir(root)
    val genFloor = StoreFiles.readMarker(new java.io.File(dir,
        StoreFiles.CompactedFromMarker))
      .map(mk => mk.getOrElse("floor", mk("max")).toLong)
    (genFloor.toSeq ++ ShardSink.tieredFloor(dir) ++
      VectorIndexSink.tieredFloor(dir)).maxOption
  }

  /** The manifest swap — [[StoreFiles.writeMarker]]'s temp-file write
    * plus ONE atomic same-dir rename, so a reader sees the old pointer
    * or the new, never a torn file. `private[graft]` so the
    * crash-window specs can reproduce a swap-without-retire state. */
  private[graft] def writeManifest(root: String, gen: Long): Unit = {
    new java.io.File(root).mkdirs()
    StoreFiles.writeMarker(new java.io.File(root, ManifestName),
      Seq(s"gen=$gen"))
  }

  private def requireAboveFloor(root: String, asOf: Option[Long],
                                what: String): Unit =
    for (v <- asOf; m <- floor(root))
      if (v < m) throw new IllegalStateException(
        s"$what at $root: asOf=$v is below the retention floor $m - " +
          "versions before the floor were folded away by compaction " +
          s"(the current generation's base serves the state AS OF $m); " +
          "history below the floor is beyond retention")

  // ---- shard store verbs through the root ----

  /** [[ShardSink.append]] against the current generation, with the
    * cross-generation re-delivery skip: a version at or below the
    * retention floor is already part of the base (the fold covered
    * it), so the append returns false instead of re-packing rows the
    * store already holds — without this, a trigger re-delivered
    * across a compaction boundary would double-append everything the
    * fold absorbed. */
  def appendShard(spark: SparkSession, root: String, batch: DataFrame,
                  idsCol: String, idCol: String, budget: Int,
                  shardCol: String, version: Long,
                  skewRobust: Boolean = false): Boolean =
    if (floor(root).exists(version <= _)) false
    else ShardSink.append(spark, batch, idsCol, idCol, budget, shardCol,
      currentDir(root), version = Some(version), skewRobust = skewRobust)

  /** [[ShardSink.read]] against the current generation; `asOf` below
    * the retention floor fails loudly (see the class doc). */
  def readShard(spark: SparkSession, root: String,
                shardCol: String = "source",
                asOf: Option[Long] = None): DataFrame = {
    requireAboveFloor(root, asOf, "shard store")
    ShardSink.read(spark, currentDir(root), shardCol, asOf)
  }

  /** Fold the current shard generation into the next, swap, retire the
    * predecessor. No-op (false) when the generation holds nothing
    * beyond its base and the retention window — nothing to fold, which
    * also makes a re-delivered compaction trigger idempotent. `keep` >
    * 0 is windowed retention (see [[ShardSink.compact]]): the newest K
    * delta versions ride into the new generation verbatim, so a
    * trailing asOf window survives every cycle.
    *
    * This is the SYNCHRONOUS form — the fold (O(current store), see
    * [[ShardSink.compact]]'s cost model) runs inline on the caller's
    * thread. A drain that must stay flat uses the begin/finish split
    * instead: [[beginCompactShard]] + [[finishCompact]]. */
  def compactShard(spark: SparkSession, root: String,
                   shardCol: String = "source",
                   keep: Int = 0): Boolean =
    begin(root, shardVerbs(spark, shardCol, keep),
        background = false) match {
      case None => false
      case Some(f) => finishCompact(f); true
    }

  /** Start an OUT-OF-BAND shard compaction: the prev-retire heal and
    * the anything-to-fold check run inline (cheap directory listings),
    * then the O(current store) fold runs on a background daemon thread
    * over the IMMUTABLE committed versions — appends keep landing in
    * the current generation concurrently (new version dirs the fold,
    * which listed its sources up front, never observes). None when
    * there is nothing to fold. The caller completes the cycle with
    * [[finishCompact]] at a quiescent point (a trigger boundary): only
    * that O(late-deltas) top-up + manifest swap + retire ever sits on
    * the drain's critical path. A crash anywhere in between leaves
    * exactly the states the synchronous machine already heals (partial
    * fold → swept and redone; committed fold → resumed and topped up). */
  def beginCompactShard(spark: SparkSession, root: String,
                        shardCol: String = "source",
                        keep: Int = 0): Option[Fold] =
    begin(root, shardVerbs(spark, shardCol, keep), background = true)

  // ---- vector index verbs through the root ----

  /** [[VectorIndexSink.appendBatch]] against the current generation,
    * with the same cross-generation re-delivery skip as
    * [[appendShard]]. */
  def appendVectors(spark: SparkSession, root: String, batchId: Long,
                    batch: DataFrame, vecCol: String = "embedding",
                    idCol: String = "vec_id"): Boolean =
    if (floor(root).exists(batchId <= _)) false
    else VectorIndexSink.appendBatch(spark, currentDir(root), batchId,
      batch, vecCol, idCol)

  /** [[VectorIndexSink.deleteBatch]] through the root: a tombstone at
    * or below the floor was already made physical by the fold. */
  def deleteVectors(spark: SparkSession, root: String, batchId: Long,
                    ids: DataFrame, idCol: String = "vec_id"): Boolean =
    if (floor(root).exists(batchId <= _)) false
    else VectorIndexSink.deleteBatch(spark, currentDir(root), batchId,
      ids, idCol)

  /** [[VectorIndexSink.read]] against the current generation; `asOf`
    * below the retention floor fails loudly. */
  def readVectors(spark: SparkSession, root: String,
                  idCol: String = "vec_id",
                  asOf: Option[Long] = None): Similarity.IvfPqIndex = {
    requireAboveFloor(root, asOf, "vector index")
    VectorIndexSink.read(spark, currentDir(root), idCol, asOf)
  }

  /** Fold the current index generation (base + deltas − tombstones)
    * into the next, swap, retire the predecessor. No-op (false) when
    * nothing has landed beyond the base and the retention window.
    * `keep` > 0 is windowed retention (see [[VectorIndexSink.compact]]):
    * the newest K batch arms ride into the new generation verbatim.
    * Synchronous; the off-critical-path form is
    * [[beginCompactVectors]] + [[finishCompact]]. */
  def compactVectors(spark: SparkSession, root: String,
                     keep: Int = 0,
                     idCol: String = "vec_id"): Boolean =
    begin(root, vectorVerbs(spark, keep, idCol),
        background = false) match {
      case None => false
      case Some(f) => finishCompact(f); true
    }

  /** [[beginCompactShard]]'s contract on the vector root: fold the
    * current generation out-of-band while appends/tombstones keep
    * landing, complete with [[finishCompact]]. */
  def beginCompactVectors(spark: SparkSession, root: String,
                          keep: Int = 0,
                          idCol: String = "vec_id"): Option[Fold] =
    begin(root, vectorVerbs(spark, keep, idCol), background = true)

  // ---- the shared compact-swap-retire state machine ----

  /** The per-store verbs the generic machine composes: shard stores
    * and vector indexes differ only in these. `topUp` and `retire` are
    * pure filesystem verbs — [[finishCompact]] needs no session. */
  private final case class StoreVerbs(
      spark: SparkSession,
      hasDebt: String => Boolean,
      fold: (SparkSession, String, String) => Unit,
      topUp: (String, String) => Unit,
      retire: (String, String) => Unit)

  private def shardVerbs(spark: SparkSession, shardCol: String,
                         keep: Int): StoreVerbs = StoreVerbs(
    spark,
    hasDebt = d => ShardSink.versionCount(d) > keep + 1,
    fold = (sp, c, n) => ShardSink.compact(sp, c, n, shardCol, keep),
    topUp = (c, n) => ShardSink.topUp(c, n),
    retire = (c, n) => ShardSink.retire(c, n))

  private def vectorVerbs(spark: SparkSession, keep: Int,
                          idCol: String): StoreVerbs = StoreVerbs(
    spark,
    hasDebt = d => VectorIndexSink.batchCount(d) > keep,
    fold = (sp, c, n) => VectorIndexSink.compact(sp, c, n, keep, idCol),
    topUp = (c, n) => VectorIndexSink.topUp(c, n),
    retire = (c, n) => VectorIndexSink.retire(c, n))

  /** Task-parallelism cap for BACKGROUND folds. A background fold at
    * the session's full width measurably starves the drain it is
    * supposed to stay out of: a late-drain fold's 32-wide scan/write
    * stages grab every core the moment the trigger's stages go idle,
    * and Spark never preempts a running task, so the next trigger wave
    * queues behind whole fold stages — measured 2.2-6x trigger spikes
    * exactly one trigger after each large fold began, under FIFO and
    * FAIR alike. Capping the fold's SHUFFLE stages at 8 tasks (a
    * quarter of the 32-slot local box) bounds the occupancy those
    * stages can take, trading fold wall (it has a whole compaction
    * window) for drain flatness — the same trade a 1000-executor
    * cluster makes by running maintenance jobs in a small capped
    * queue. Scan stages are NOT bounded by this knob (they scale with
    * input bytes / maxPartitionBytes); the fold session raises
    * maxPartitionBytes to 1 GiB to keep scans of the delta-sized
    * version files narrow, and full isolation under a soaking scan
    * rests on the FAIR pool ([[FoldSchedulerPool]]). */
  private[graft] val FoldMaxTasks = 8

  /** Scheduler pool the background fold's jobs run in. Under a FAIR
    * scheduler (`spark.scheduler.mode=FAIR` — set it on any session
    * that drives [[RefreshPipeline.runManaged]]-style drains) this
    * isolates the fold from the drain: without it, the default FIFO
    * scheduler offers every core to the fold's 32-wide stages first
    * and the concurrent trigger's short stages queue behind them —
    * measured as a reproducible 2.3x trigger stall (19.5 s vs 8.5 s
    * median) even though the fold thread itself never touches the
    * trigger's state. Under FIFO the property is inert and the fold
    * simply competes, which is the pre-round-15 behavior. */
  val FoldSchedulerPool = "graft_oob_fold"

  /** The background fold's session: a THROTTLED clone (shared
    * SparkContext, isolated SQLConf). `newSession()` re-derives SQLConf
    * from the base SparkConf, DROPPING runtime `spark.conf.set`
    * entries (session.timeZone, ansi.enabled, caseSensitive, ...) —
    * the fold must rewrite data under the SAME SQL semantics as the
    * drain's appends and the synchronous compact verbs, so every
    * modifiable runtime entry is copied onto the clone first, then the
    * throttle overrides applied on top: fold SHUFFLE stages capped at
    * [[FoldMaxTasks]] tasks, and scan width bounded separately (1 GiB
    * maxPartitionBytes keeps file-scan stages narrow on the
    * delta-sized version files the fold reads). Isolation from the
    * drain's stages additionally rests on the FAIR pool
    * ([[FoldSchedulerPool]]) — under FIFO these caps bound occupancy
    * per stage, but wide scans of a very large store could still queue
    * ahead of trigger stages. */
  private[graft] def throttledClone(parent: SparkSession): SparkSession = {
    val sp = parent.newSession()
    parent.conf.getAll.foreach { case (k, value) =>
      if (sp.conf.isModifiable(k) && sp.conf.getOption(k) != Some(value))
        sp.conf.set(k, value)
    }
    sp.conf.set("spark.sql.shuffle.partitions", FoldMaxTasks)
    sp.conf.set("spark.sql.files.maxPartitionBytes",
      1024L * 1024 * 1024)
    sp
  }

  /** Handle on a begun compaction cycle — a GENERATION fold (fold the
    * whole current generation into the next; completed by top-up +
    * manifest swap + retire) or a TIER fold (fold one tier's units
    * into a run inside the current generation; completed by the run's
    * swap rename + covered-source retire — `tierFinish`). [[isDone]]
    * polls whether the fold has finished WRITING — completion still
    * goes through [[finishCompact]], so a caller can cheaply drain
    * finished folds at every trigger boundary and block only when it
    * must. `tier` is -1 for generation folds, the run's tier for tier
    * folds (telemetry — [[RefreshPipeline.DrainLog]] gates per-tier
    * fold walls on it). */
  final class Fold private[StoreRoot](
      private[StoreRoot] val root: String,
      private[StoreRoot] val gen: Long,
      private[StoreRoot] val thread: Option[Thread],
      private[StoreRoot] val failure:
        java.util.concurrent.atomic.AtomicReference[Throwable],
      private[StoreRoot] val spark: SparkSession,
      private[StoreRoot] val jobGroup: String,
      private[StoreRoot] val verbs: Option[StoreVerbs],
      private[StoreRoot] val tierFinish: Option[() => Unit],
      private[graft] val tier: Int) {
    def isDone: Boolean = thread.forall(!_.isAlive)

    /** Abort-path cleanup: stop the background fold (if any) and wait
      * for it to exit, WITHOUT completing the cycle. A drain that
      * throws must not leave an orphaned daemon fold writing into gen
      * N+1 — a same-process retry's begin() would sweep that
      * in-progress target (deleteRec) while the orphan still writes
      * and might later publish its marker: two writers racing on one
      * generation directory. Interrupting the thread alone is NOT
      * enough: Spark does not cancel a running job when its submitting
      * thread is interrupted, so the executor task threads would keep
      * writing — the fold's jobs run under a per-fold job group
      * (interruptOnCancel) that is cancelled FIRST. The join is
      * bounded and interrupt-safe: this runs on abort paths (often
      * with the caller's interrupt flag already set) and must neither
      * hang on a stuck fold nor throw over the original failure — the
      * cancel is RE-ISSUED on every join tick (a job submitted after
      * the first cancel, before the thread reached setJobGroup, is not
      * covered by it), and a fold still alive at the deadline is
      * flagged loudly on stderr; the caller's interrupt status is
      * preserved. The abandoned
      * fold's partial target is swept and redone by the next begin();
      * a fold that already committed its marker resumes as a top-up. */
    private[graft] def abandon(): Unit = thread.foreach { t =>
      def cancel(): Unit =
        try spark.sparkContext.cancelJobGroup(jobGroup)
        catch { case _: Throwable => () } // context may be stopping
      cancel()
      t.interrupt()
      var selfInterrupted = false
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (t.isAlive && System.nanoTime() < deadline) {
        try t.join(200)
        catch { case _: InterruptedException => selfInterrupted = true }
        // re-issue the cancel on every join tick: cancelJobGroup only
        // cancels jobs ACTIVE at call time, so a job the fold thread
        // submitted after the first cancel (it may not have reached
        // setJobGroup yet when abandon ran) would otherwise run to
        // completion uncancelled
        if (t.isAlive) cancel()
      }
      if (t.isAlive)
        // a live writer past the deadline is the two-writers race this
        // method exists to prevent — flag it loudly instead of
        // returning silently (never throw: abandon runs on abort paths
        // over the original failure)
        System.err.println(s"[graft] WARN fold thread ${t.getName} " +
          "still alive after the 60s abandon deadline - it may still " +
          s"write into gen${gen + 1} and race a retry's begin() sweep")
      if (selfInterrupted) Thread.currentThread().interrupt()
    }
  }

  /** One job group per fold cycle (root + generation — folds are
    * serialized one-in-flight per root, so this is unique among live
    * folds): lets [[Fold.abandon]] cancel exactly this fold's running
    * jobs, nothing else on the shared SparkContext. */
  private def foldJobGroup(root: String, gen: Long): String =
    s"graft-oob-fold-${new java.io.File(root).getName}-gen$gen"

  /** Shared front half: heal an unretired predecessor, check for debt,
    * then ensure the next generation's fold is committed or in flight —
    * inline (`background = false`, the synchronous verbs) or on a
    * daemon thread. Resumes a committed fold from a crashed earlier
    * attempt as-is (the marker is written last, so its presence means
    * the fold is whole — versions appended after it are topped up at
    * finish, O(late-deltas), never a redo); sweeps and redoes a
    * partial one. */
  private def begin(root: String, v: StoreVerbs,
                    background: Boolean): Option[Fold] = {
    val g = currentGen(root)
    val cur = genDir(root, g)
    // heal a crash between a previous swap and its retire: the
    // predecessor is still on disk unretired — retire it now (its
    // successor is exactly `cur`, whose lineage marker beginRetire
    // validates before anything is deleted)
    val prev = genDir(root, g - 1)
    if (g > 0 && prev.isDirectory
        && StoreFiles.retiredTo(prev.getAbsolutePath).isEmpty)
      v.retire(prev.getAbsolutePath, cur.getAbsolutePath)
    if (!v.hasDebt(cur.getAbsolutePath)) return None
    val next = genDir(root, g + 1)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val committed = StoreFiles.readMarker(
        new java.io.File(next, StoreFiles.CompactedFromMarker))
      .exists(_.get("src").contains(cur.getCanonicalPath))
    if (committed) // nothing left to write; finish tops up and swaps
      return Some(new Fold(root, g, None, err, v.spark,
        foldJobGroup(root, g), Some(v), None, tier = -1))
    def runFold(sp: SparkSession): Unit = {
      // no usable marker: either nothing there, a fold that crashed
      // mid-write, or a fold of a FOREIGN source — sweep and redo (the
      // fold verbs refuse a used target, so a partial next MUST be
      // cleared first). The fold lists its source versions up front,
      // so appends landing concurrently are simply not covered yet;
      // finishCompact's top-up carries them over.
      if (next.exists()) StoreFiles.deleteRec(next)
      v.fold(sp, cur.getAbsolutePath, next.getAbsolutePath)
    }
    if (!background) {
      runFold(v.spark)
      Some(new Fold(root, g, None, err, v.spark, foldJobGroup(root, g),
        Some(v), None, tier = -1))
    } else {
      val t = new Thread(
        () => try {
          // isolate the fold's jobs from the drain's (see
          // [[FoldSchedulerPool]]); thread-local, so only this fold's
          // job submissions are affected
          v.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", FoldSchedulerPool)
          // per-fold job group with interruptOnCancel so abandon() can
          // stop the RUNNING tasks, not just this submitting thread
          v.spark.sparkContext.setJobGroup(foldJobGroup(root, g),
            s"graft out-of-band compaction fold: $root gen$g",
            interruptOnCancel = true)
          runFold(throttledClone(v.spark))
        } catch { case e: Throwable => err.set(e) },
        s"graft-fold-${new java.io.File(root).getName}-gen$g")
      t.setDaemon(true)
      t.start()
      Some(new Fold(root, g, Some(t), err, v.spark,
        foldJobGroup(root, g), Some(v), None, tier = -1))
    }
  }

  /** Complete a begun compaction cycle: wait for the fold to commit
    * (a failed background fold rethrows here), TOP-UP the delta
    * versions appended since the fold was cut (O(late-deltas) verbatim
    * copies — see [[ShardSink.topUp]]), swap the manifest (the commit
    * point), retire the predecessor. Runs on the caller's thread at a
    * quiescent point — the drain's trigger boundary — so no append
    * races the swap. */
  def finishCompact(f: Fold): Unit = {
    f.thread.foreach(_.join())
    Option(f.failure.get).foreach(e => throw new IllegalStateException(
      s"out-of-band compaction fold failed for ${f.root}", e))
    f.tierFinish match {
      case Some(fin) => fin() // tier cycle: swap rename + covered retire
      case None =>
        val v = f.verbs.getOrElse(throw new IllegalStateException(
          s"generation fold for ${f.root} carries no store verbs"))
        val cur = genDir(f.root, f.gen)
        val next = genDir(f.root, f.gen + 1)
        v.topUp(cur.getAbsolutePath, next.getAbsolutePath)
        writeManifest(f.root, f.gen + 1) // the commit point - readers swap
        // test-only hook: the crash harness widens the swap->retire gap
        // so its poll can land a SIGKILL inside the swap-no-retire
        // window (at real scale the gap is sub-ms; the heal path is the
        // same either way - begin() retires the unretired predecessor)
        sys.props.get("graft.test.retireDelayMs").map(_.toLong)
          .filter(_ > 0).foreach(Thread.sleep)
        v.retire(cur.getAbsolutePath, next.getAbsolutePath)
    }
  }

  // ---- size-tiered (LSM) folds inside the current generation ----

  /** The per-store primitives the generic tier machine composes —
    * [[ShardSink]] and [[VectorIndexSink]] differ only in these.
    * `plan` returns the next fold (tier of the RESULTING run, covered
    * range, and a writer that stages the run's content + range
    * marker); `sweep` retires every source a referenced run covers
    * (idempotent — also the swap-no-retire heal); `runsParent` is
    * where `u`/`t` run dirs live. */
  private final case class TierOps(
      spark: SparkSession,
      plan: String => Option[(Int, Long, Long,
        (SparkSession, String) => Unit)],
      maxRunId: String => Long,
      sweep: String => Unit,
      runsParent: String => java.io.File)

  /** Start (or run inline) one SIZE-TIERED compaction cycle on the
    * current generation: heal any crashed predecessor cycle (adopt a
    * committed-but-unreferenced `u` run — swap + retire, never a redo;
    * sweep covered-but-present sources and abandoned staging), then
    * fold the oldest full tier into a run. The fold stages and
    * publishes `u<id>` on a background daemon thread over IMMUTABLE
    * committed units (appends keep landing; they are above the fold's
    * range by construction); [[finishCompact]] completes the cycle at
    * a quiescent point with ONE atomic rename `u<id>` -> `t<id>` (the
    * swap — readers flip from the covered sources to the run) and the
    * covered-source retire. Same three on-disk states, same two crash
    * windows, as the generation machine — at O(one tier) fold cost
    * instead of O(current generation). None when no tier is full.
    *
    * Single-writer per root, and tier cycles must not interleave with
    * generation folds on the same root (callers serialize — runManaged
    * runs one fold at a time across all roots). */
  private def beginTier(root: String, ops: TierOps,
                        background: Boolean): Option[Fold] = {
    val dir = currentDir(root)
    val parent = ops.runsParent(dir)
    // HEAL, in commit order: a committed-unreferenced run is ADOPTED
    // (rename = the swap it never got; its sources are still intact
    // because retire strictly follows the swap), then covered sources
    // and stale staging are swept
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("u\\d+")
        && new java.io.File(f, StoreFiles.TierRunMarker).isFile)
      .foreach { u =>
        java.nio.file.Files.move(u.toPath,
          new java.io.File(parent, "t" + u.getName.drop(1)).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    ops.sweep(dir)
    ops.plan(dir).map { case (tier, lo, hi, write) =>
      val runId = ops.maxRunId(dir) + 1
      val u = new java.io.File(parent, s"u$runId")
      val t = new java.io.File(parent, s"t$runId")
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val group = s"graft-tier-fold-${new java.io.File(root).getName}" +
        s"-r$runId"
      def runFold(sp: SparkSession): Unit = {
        parent.mkdirs()
        StoreFiles.publishOnce(
          s"${parent.getAbsolutePath}/.staging-u$runId", u,
          staging => write(sp, staging))
        ()
      }
      val fin: () => Unit = () => {
        // the SWAP: one atomic same-dir rename references the run —
        // a reader's listing sees covered sources or the run, and the
        // two views are latest-wins-identical by construction
        java.nio.file.Files.move(u.toPath, t.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // test-only hook (same as the generation machine's): widen the
        // swap->retire gap so the crash harness can land inside it
        sys.props.get("graft.test.retireDelayMs").map(_.toLong)
          .filter(_ > 0).foreach(Thread.sleep)
        ops.sweep(dir) // the retire: covered sources reclaimed
      }
      if (!background) {
        runFold(ops.spark)
        new Fold(root, currentGen(root), None, err, ops.spark, group,
          None, Some(fin), tier)
      } else {
        val th = new Thread(
          () => try {
            ops.spark.sparkContext.setLocalProperty(
              "spark.scheduler.pool", FoldSchedulerPool)
            ops.spark.sparkContext.setJobGroup(group,
              s"graft tier-$tier compaction fold: $root v$lo..v$hi",
              interruptOnCancel = true)
            runFold(throttledClone(ops.spark))
          } catch { case e: Throwable => err.set(e) },
          s"graft-tierfold-${new java.io.File(root).getName}-r$runId")
        th.setDaemon(true)
        th.start()
        new Fold(root, currentGen(root), Some(th), err, ops.spark,
          group, None, Some(fin), tier)
      }
    }
  }

  private def shardTierOps(spark: SparkSession, shardCol: String,
                           fanout: Int, keep: Int): TierOps = TierOps(
    spark,
    plan = dir => ShardSink.tierPlan(dir, fanout, keep).map { units =>
      (units.head.tier + 1, units.head.lo, units.last.hi,
        (sp: SparkSession, staging: String) =>
          ShardSink.writeTierRun(sp, units, units.head.tier + 1,
            staging, shardCol))
    },
    maxRunId = ShardSink.maxRunId,
    sweep = ShardSink.sweepCovered,
    runsParent = dir => new java.io.File(dir))

  /** Start an out-of-band SIZE-TIERED shard compaction cycle (see
    * [[beginTier]]): fold the oldest `fanout` same-tier units of the
    * current generation into one run — K delta versions into a tier-1
    * run, K tier-1 runs into tier-2, ... — so per-cycle fold work is
    * O(one tier) while merged-read amplification stays O(fanout x
    * tiers) = O(fanout x log units). The generation verbs
    * ([[beginCompactShard]]) remain the full-rewrite path; `keep` > 0
    * exempts the newest K units (the trailing asOf window). Complete
    * with [[finishCompact]]. None when no tier is full. */
  def beginCompactShardTiered(spark: SparkSession, root: String,
                              shardCol: String = "source",
                              fanout: Int = 4,
                              keep: Int = 0): Option[Fold] =
    beginTier(root, shardTierOps(spark, shardCol, fanout, keep),
      background = true)

  /** Synchronous [[beginCompactShardTiered]] + [[finishCompact]];
    * false when no tier is full. */
  def compactShardTiered(spark: SparkSession, root: String,
                         shardCol: String = "source", fanout: Int = 4,
                         keep: Int = 0): Boolean =
    beginTier(root, shardTierOps(spark, shardCol, fanout, keep),
        background = false) match {
      case None => false
      case Some(f) => finishCompact(f); true
    }

  private def vectorTierOps(spark: SparkSession, fanout: Int, keep: Int,
                            idCol: String): TierOps = TierOps(
    spark,
    plan = dir => VectorIndexSink.tierPlan(dir, fanout, keep)
      .map { units =>
        (units.head.tier + 1, units.head.lo, units.last.hi,
          (sp: SparkSession, staging: String) =>
            VectorIndexSink.writeTierRun(sp, units,
              units.head.tier + 1, staging, idCol))
      },
    maxRunId = VectorIndexSink.maxRunId,
    sweep = VectorIndexSink.sweepCovered,
    runsParent = dir => new java.io.File(dir, "runs"))

  /** [[beginCompactShardTiered]]'s contract on the vector root: fold
    * the oldest `fanout` same-tier units (append/tombstone arms at
    * tier 0) into one run under `runs/`; per-cycle work O(one tier).
    * Complete with [[finishCompact]]. */
  def beginCompactVectorsTiered(spark: SparkSession, root: String,
                                fanout: Int = 4, keep: Int = 0,
                                idCol: String = "vec_id"): Option[Fold] =
    beginTier(root, vectorTierOps(spark, fanout, keep, idCol),
      background = true)

  /** Synchronous [[beginCompactVectorsTiered]] + [[finishCompact]];
    * false when no tier is full. */
  def compactVectorsTiered(spark: SparkSession, root: String,
                           fanout: Int = 4, keep: Int = 0,
                           idCol: String = "vec_id"): Boolean =
    beginTier(root, vectorTierOps(spark, fanout, keep, idCol),
        background = false) match {
      case None => false
      case Some(f) => finishCompact(f); true
    }
}
