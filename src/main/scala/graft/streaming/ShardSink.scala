package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Curate

/** Streaming training-shard production — q154's batch append as a REAL
  * micro-batch sink: each arriving batch of tokenized documents is
  * appended to a persistent shard store via
  * [[graft.operators.Curate.packTokenIdsIncremental]] inside
  * `foreachBatch`. Per-trigger cost: the WRITE is O(batch) — a delta-
  * only version — and the compute touches token payloads only for the
  * batch; the existing store contributes a narrow-column scan
  * (shard, seq_id, n_tokens, version — the same metadata the append
  * audit always read), never its payloads.
  *
  * Store layout: versioned parquet DELTAS `storeDir/v0, v1, ...` — each
  * batch computes just its new sequences plus the one topped-up tail
  * row per touched shard, stages them, and PUBLISHES with a single
  * atomic rename ([[StoreFiles.publishOnce]]): a crash mid-write leaves
  * only an unpublished staging dir (swept on retry), never a
  * half-committed version. Versions are keyed by the streaming batchId,
  * so `foreachBatch`'s at-least-once re-delivery finds its committed
  * version and skips — no double-append. (Like every batchId-keyed
  * foreachBatch recipe, the store is therefore coupled to ONE
  * checkpoint lineage: recreating the checkpoint restarts batchIds at
  * 0, so it requires a fresh store — or explicit version keys via the
  * non-streaming [[append]].) Unlike a full-snapshot-per-version
  * layout, a 1% crawl drop writes 1%, not 100%; a production
  * deployment compacts old versions on a schedule, which the
  * correctness fixture deliberately keeps.
  *
  * [[read]] resolves latest-wins per (shard, seq_id): only topped-up
  * TAIL rows are ever superseded (full sequences are immutable by the
  * packTokenIdsIncremental contract), so the loser set is tiny —
  * bounded by touched shards x versions — and is computed from narrow
  * columns then applied as a BROADCAST anti join, so token payloads
  * are never shuffled at all, for any row. Shard keys may be NULL
  * (packTokenIds groups null keys like any other shard); every merge
  * step uses null-safe equality so a null-shard store neither loses
  * rows nor duplicates sequence ids.
  *
  * Equivalence contract (what q157 pins corpus-wide): when batches
  * arrive in `idCol` order, the merged view equals the one-shot
  * [[graft.operators.Curate.packTokenIds]] of the full corpus — the
  * same delta == full-repack equivalence BpeSpec pins for one append,
  * here composed across every micro-batch of a stream. */
object ShardSink {

  /** Driver-held per-store append state: the tail coordinates
    * ([[graft.operators.Curate.ShardTail]]) and store schema as of
    * `version` — what [[append]] otherwise re-derives from the merged
    * store view EVERY trigger (one narrow O(store-rows) audit
    * aggregation, one keyed tail fetch, and the latest-wins broadcast
    * build under both — measured at ~2/3 of the per-trigger shard
    * stage on a refresh drain, and the only per-append term that grows
    * with store size rather than batch size). Same discipline as
    * [[RefreshPipeline.FingerprintBloom]]: correctness never rests on
    * the cache — it is handed out ONLY when the store's latest
    * committed version (+ tier floor, budget, shard column) still
    * matches what this JVM committed, so any external append, heal,
    * restart, or cross-JVM writer misses and falls back to the full
    * audit path. A tier fold inside the same store is content-
    * preserving on the merged view (tails unchanged) and leaves the
    * latest version dir in place, so a valid hit stays valid across
    * it. Deliberately NOT persisted; bounded at O(shards) driver rows
    * per store (the same bounded-collect class as the audit itself). */
  private final case class TailState(version: Long, budget: Int,
      shardCol: String, schema: org.apache.spark.sql.types.StructType,
      tails: Seq[Curate.ShardTail], dirFp: String)
  private val tailCache =
    new java.util.concurrent.ConcurrentHashMap[String, TailState]()
  /** Test hook: drop every cached tail state (simulates a fresh JVM). */
  private[graft] def clearTailCache(): Unit = tailCache.clear()

  /** Committed version directories under `storeDir`, version order. */
  private def versions(storeDir: String): Seq[(Long, java.io.File)] =
    StoreFiles.publishedDirs(storeDir, "v", StoreFiles.hasParquet)

  /** Committed version count — [[StoreRoot]]'s anything-to-fold check
    * (a store holding at most its base has no compaction debt). Counts
    * LIVE units: tier runs collapse the versions they cover into one
    * unit each, so a tier-compacted store reports the merged-read
    * amplification that actually remains, not the history length. */
  private[graft] def versionCount(storeDir: String): Int =
    liveUnits(storeDir).size

  // ---- size-tiered (LSM) runs ----
  //
  // A tier RUN is the latest-wins view of a CONTIGUOUS range of the
  // store's units, resolved physically and stored as one directory
  // `t<runId>` beside the version dirs, with each surviving row's
  // ORIGINAL version materialized as a `__v` column — so the global
  // merged read stays exactly the same latest-wins resolution, just
  // over fewer, larger units. Runs nest: K tier-0 versions fold into a
  // tier-1 run, K tier-1 runs into a tier-2 run, and so on — per-fold
  // work is O(one tier), never O(current store) (the generation fold's
  // cost model), which is what keeps compaction cycles flat as the
  // store grows without bound.
  //
  // Commit protocol (the [[StoreRoot]] begin/finish crash windows,
  // reproduced inside a generation): the fold stages its run and
  // publishes it as `u<runId>` — COMMITTED but UNREFERENCED (readers
  // only ever scan `t` runs), the marker-committed-before-swap state; a
  // single atomic same-dir rename `u<id>` -> `t<id>` is the SWAP
  // (readers flip from the covered sources to the run between two
  // listings, both views latest-wins-identical); the covered source
  // dirs are then retired (swept). A crash mid-fold leaves only
  // staging (swept on the next begin); after publish-before-swap
  // leaves a `u` run the next begin ADOPTS (swap + retire — never a
  // redo); after swap-before-retire leaves covered-but-present sources
  // the structural liveness rule below already excludes from every
  // read, swept by the next begin.

  /** One live unit of the store: a delta version (`tier` 0, `lo` ==
    * `hi` == version) or a referenced tier run (marker layout:
    * [[StoreFiles.TierRunMarker]]). */
  private[graft] final case class TierUnit(tier: Int, lo: Long,
                                           hi: Long, dir: java.io.File)

  private def hasRunMarker(d: java.io.File): Boolean =
    new java.io.File(d, StoreFiles.TierRunMarker).isFile

  private def runUnits(storeDir: String,
                       prefix: String): Seq[TierUnit] =
    StoreFiles.publishedDirs(storeDir, prefix, hasRunMarker)
      .flatMap { case (_, d) =>
        StoreFiles.runMeta(d)
          .map { case (t, lo, hi) => TierUnit(t, lo, hi, d) }
      }

  /** Committed-but-UNREFERENCED runs (`u<id>`) — the fold-committed
    * pre-swap state [[StoreRoot]]'s tiered begin adopts. */
  private[graft] def pendingRuns(storeDir: String): Seq[TierUnit] =
    runUnits(storeDir, "u")

  /** Highest existing run id across referenced and pending runs — the
    * next fold publishes at id + 1 (ids never reused, so an abandoned
    * staging dir can never alias a later cycle's commit). */
  private[streaming] def maxRunId(storeDir: String): Long =
    (StoreFiles.publishedDirs(storeDir, "t", hasRunMarker) ++
      StoreFiles.publishedDirs(storeDir, "u", hasRunMarker))
      .map(_._1).maxOption.getOrElse(-1L)

  /** The store's LIVE units, ascending by range: referenced runs not
    * nested inside a strictly larger referenced run, plus delta
    * versions not covered by any such run. Structural — derived from
    * one directory listing, no separate manifest — so a reader that
    * lists before a run's swap serves the covered sources and one that
    * lists after serves the run: latest-wins-identical views, which is
    * what makes the swap rename the commit point. Covered dirs still
    * on disk (the swap-before-retire crash window) are simply never
    * scanned. */
  private[graft] def liveUnits(storeDir: String): Seq[TierUnit] = {
    val runs = runUnits(storeDir, "t")
    // ranges of distinct runs are nested or disjoint by construction
    // (a fold always takes whole adjacent units), so "strictly larger
    // containing range" is exactly "a later fold absorbed this run"
    val live = runs.filter(r => !runs.exists(o =>
      o.lo <= r.lo && r.hi <= o.hi && (o.hi - o.lo) > (r.hi - r.lo)))
    val vs = versions(storeDir)
      .filter { case (v, _) => !live.exists(r => r.lo <= v && v <= r.hi) }
      .map { case (v, f) => TierUnit(0, v, v, f) }
    (live ++ vs).sortBy(u => (u.lo, -u.hi))
  }

  /** The TIERED retention floor: the highest version any referenced
    * run covers. Versions inside a run's range were resolved
    * physically — an asOf at or below the floor cannot be served
    * (superseded rows below it are gone) and fails loudly, the same
    * contract as [[StoreRoot.floor]]'s generation floor. None when the
    * store has no runs. */
  private[graft] def tieredFloor(storeDir: String): Option[Long] =
    runUnits(storeDir, "t").map(_.hi).maxOption

  /** The size-tiered fold plan: the OLDEST window of `fanout`
    * consecutive live units sharing one tier, never touching the
    * newest `keep` units (the trailing asOf window, [[compact]]'s
    * `keepVersions` contract). Folding oldest-first keeps unit ranges
    * nested-or-disjoint by construction and escalates naturally: K
    * deltas fold to a tier-1 run, K adjacent tier-1 runs to tier-2,
    * and the top tier only ever rewrites when it fills — per-cycle
    * work O(one tier). None when no tier is full. */
  private[graft] def tierPlan(storeDir: String, fanout: Int,
                              keep: Int): Option[Seq[TierUnit]] = {
    require(fanout >= 2, s"tier fanout must be >= 2: $fanout")
    val units = liveUnits(storeDir).dropRight(keep)
    (0 to units.length - fanout).view
      .map(i => units.slice(i, i + fanout))
      .find(w => w.forall(_.tier == w.head.tier))
  }

  /** Write the tier run folding `units` into `staging`: the latest-wins
    * view RESTRICTED to those units with the per-row `__v` kept
    * physical (any in-range version loses to any later version exactly
    * as the unfolded dirs would, so global resolution over run ∪ rest
    * is unchanged), plus the range marker. Reads O(units), never the
    * rest of the store. */
  private[streaming] def writeTierRun(spark: SparkSession,
      units: Seq[TierUnit], tier: Int, staging: String,
      shardCol: String): Unit = {
    val all = scanUnits(spark,
      units.filter(_.tier > 0), units.filter(_.tier == 0))
    val resolved = all.join(broadcast(losers(all, shardCol)),
      col(shardCol) <=> col("__lS") && col("seq_id") === col("__lQ")
        && col("__v") === col("__lV"),
      "left_anti")
    val run = resolved
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // same delta-sized file-count rule as [[append]]'s publish
      val files = math.max(1L,
        math.min(32L, run.count() / 65536L + 1L)).toInt
      run.coalesce(files).write.mode("overwrite").parquet(staging)
    } finally { run.unpersist(); () }
    StoreFiles.writeMarker(new java.io.File(staging, StoreFiles.TierRunMarker),
      Seq(s"tier=$tier", s"lo=${units.head.lo}", s"hi=${units.last.hi}"))
  }

  /** Retire every dir a referenced run covers — the tier machine's
    * retire verb AND its swap-before-retire heal (idempotent: covered
    * dirs are invisible to reads either way, this just reclaims
    * them). Also sweeps any abandoned fold staging (no fold is in
    * flight when this runs — the per-root single-writer contract). */
  private[streaming] def sweepCovered(storeDir: String): Unit = {
    val live = liveUnits(storeDir).map(_.dir.getName).toSet
    val runs = runUnits(storeDir, "t")
      .filter(r => live.contains(r.dir.getName))
    def covered(lo: Long, hi: Long): Boolean =
      runs.exists(r => r.lo <= lo && hi <= r.hi &&
        (r.hi - r.lo) > (hi - lo))
    versions(storeDir).foreach { case (v, f) =>
      if (covered(v, v)) StoreFiles.deleteRec(f)
    }
    runUnits(storeDir, "t").foreach { r =>
      if (covered(r.lo, r.hi)) StoreFiles.deleteRec(r.dir)
    }
    Option(new java.io.File(storeDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".staging-u"))
      .foreach(StoreFiles.deleteRec)
  }

  /** Post-kill disk forensics for the tiered machine (the
    * [[graft.tools.CrashHarness]] classifier): `pre-swap` = a fold's
    * staging or committed-unreferenced `u` run is on disk;
    * `swap-no-retire` = a referenced run's covered sources are still
    * present; else `none`. */
  private[graft] def tieredWindow(storeDir: String): String = {
    val pre = pendingRuns(storeDir).nonEmpty ||
      Option(new java.io.File(storeDir).listFiles())
        .getOrElse(Array.empty)
        .exists(f => f.isDirectory && f.getName.startsWith(".staging-u"))
    if (pre) "pre-swap"
    else {
      val live = liveUnits(storeDir).map(_.dir.getName).toSet
      val runs = runUnits(storeDir, "t")
        .filter(r => live.contains(r.dir.getName))
      def covered(lo: Long, hi: Long): Boolean =
        runs.exists(r => r.lo <= lo && hi <= r.hi &&
          (r.hi - r.lo) > (hi - lo))
      val unretired =
        versions(storeDir).exists { case (v, _) => covered(v, v) } ||
          runUnits(storeDir, "t").exists(r => covered(r.lo, r.hi))
      if (unretired) "swap-no-retire" else "none"
    }
  }

  /** Append one batch of documents (with a pre-tokenized `idsCol`) to
    * the store: read the merged view, compute the delta via
    * packTokenIdsIncremental, stage it, publish atomically. `version`
    * keys the commit — the streaming path passes its batchId so
    * re-delivery is a no-op (returns false); the non-streaming path
    * (a scheduler-driven pipeline calling this per crawl drop) may
    * omit it to take the next free number. */
  def append(spark: SparkSession, batch: DataFrame, idsCol: String,
             idCol: String, budget: Int, shardCol: String,
             storeDir: String, version: Option[Long] = None,
             skewRobust: Boolean = false): Boolean = {
    StoreFiles.requireNotRetired(storeDir, "shard store")
    new java.io.File(storeDir).mkdirs()
    // a version at or below the tiered floor was folded into a tier
    // run (its dir is retired, so publishOnce alone would NOT skip it)
    // — the same at-least-once re-delivery skip a managed root applies
    // at its generation floor
    if (version.exists(v => tieredFloor(storeDir).exists(v <= _)))
      return false
    val vs = versions(storeDir)
    val latestCommitted =
      (vs.lastOption.map(_._1) ++ tieredFloor(storeDir)).maxOption
    // an explicit version BELOW the latest committed one (the scaladoc's
    // warned-against mix of a restarted streaming checkpoint with the
    // scheduler path) would compute its delta against a merged view
    // that already includes LATER versions, then publish it at the
    // earlier key — read's latest-wins over that interleaving serves an
    // inconsistent store. Equal-to-committed is the harmless
    // re-delivery skip (publishOnce returns false below); anything
    // else out of order fails loudly instead of publishing.
    for (v <- version; latest <- latestCommitted)
      require(v > latest || vs.exists(_._1 == v),
        s"out-of-order append: explicit version v$v is below the " +
          s"store's latest committed v$latest at $storeDir - a " +
          "restarted checkpoint lineage needs a fresh store, not an " +
          "interleaved publish into this one")
    val v = version.getOrElse(latestCommitted.map(_ + 1).getOrElse(0L))
    val cacheKey = StoreFiles.cacheKey(storeDir)
    var committedState: TailState = null
    val published = StoreFiles.publishOnce(s"$storeDir/.staging-v$v",
      new java.io.File(s"$storeDir/v$v"), { staging =>
        // tail state: from the cache when this JVM committed the
        // store's latest version under the same (budget, shardCol) —
        // otherwise the full audit + tail fetch over the merged view
        // (first append, restart, or any external write since). The
        // version dir's fingerprint must match too, so an IN-PLACE
        // mutation (hand edit, partial heal) misses instead of packing
        // off stale tails; an empty one is never stored or matched.
        val cached = Option(tailCache.get(cacheKey)).filter(c =>
          latestCommitted.contains(c.version) && c.budget == budget &&
            c.shardCol == shardCol && c.dirFp.nonEmpty &&
            c.dirFp == StoreFiles.fingerprint(
              new java.io.File(s"$storeDir/v${c.version}")))
        val (storeSchema, tails) = cached match {
          case Some(c) => (c.schema, c.tails)
          case None =>
            val existing =
              if (liveUnits(storeDir).nonEmpty)
                read(spark, storeDir, shardCol)
              // first batch: an empty frame with the exact store schema
              else Curate.packTokenIds(batch.limit(0), idsCol, idCol,
                budget, shardCol)
            (existing.schema,
              Curate.shardTails(existing, budget, shardCol))
        }
        val raw = Curate.packTokenIdsIncrementalFromTails(tails,
          storeSchema(shardCol), batch, idsCol, idCol, budget,
          shardCol, skewRobust = skewRobust)
        // enforce the additive-schema invariant [[read]]'s latest-
        // schema merged scan rests on, where it is free (both schemas
        // are in hand): a delta that DROPPED or renamed a column would
        // silently mask that column on every later read (the explicit
        // latest schema would stop selecting it from older files) —
        // fail the publish loudly instead. New columns are fine: the
        // older files NULL-pad under the wider latest schema.
        val narrowed =
          storeSchema.fieldNames.toSet -- raw.schema.fieldNames
        require(narrowed.isEmpty,
          s"shard store schema narrowed: delta v$v is missing " +
            s"column(s) ${narrowed.mkString(", ")} present in the " +
            s"store at $storeDir - deltas may only ADD columns (the " +
            "merged read takes the latest version's schema)")
        // the cache exists only to make the sizing count below free
        // and the write single-pass. Storage level MEASURED, not
        // guessed: DISK_ONLY (to keep a backfill's payload copy out of
        // execution memory) costs the round-trip of every micro-batch
        // delta through disk serialization — +30% on a 12-trigger
        // refresh drain (132.4 s vs 101.8 s, ~2.5 s/trigger).
        // MEMORY_AND_DISK keeps the common micro-batch delta in RAM
        // and already degrades to disk under memory pressure, which IS
        // the wanted backfill behavior — the unified memory manager
        // arbitrates instead of a hardcoded worst-case level.
        val delta = raw
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // ONE narrow pass over the persisted delta yields both the
          // file-sizing row count and each touched shard's NEW tail
          // (its max-seq row; <= budget ids collected per shard, the
          // same bounded-collect class as the audit) — so the next
          // append's tail state carries forward instead of being
          // re-derived from the whole store
          val stats = delta.groupBy(col(shardCol)).agg(
              count(lit(1)).as("__c"),
              max(col("seq_id").cast("long")).as("__mx"),
              max_by(struct(col("n_tokens").cast("long").as("__nt"),
                col("token_ids")), col("seq_id")).as("__tl"))
            .collect()
          val deltaRows = stats.map(_.getLong(1)).sum
          val deltaTails = stats.map { r =>
            val nt = r.getStruct(3).getLong(0)
            Curate.ShardTail(r.get(0), r.getLong(2), nt,
              if (nt < budget)
                r.getStruct(3).getSeq[Int](1).toVector
              else Seq.empty[Int])
          }.toSeq
          val touched = deltaTails.map(_.shard).toSet
          committedState = TailState(v, budget, shardCol, raw.schema,
            tails.filterNot(t => touched.contains(t.shard)) ++ deltaTails,
            dirFp = "") // stamped post-publish, once the dir exists
          // size the version's FILE COUNT to the delta, not to the
          // session's shuffle parallelism: a micro-batch delta written
          // at 32-way parallelism is 32 tiny files, and after t
          // triggers the NEXT append's merged read opens O(32t) files
          // — measured as the dominant per-trigger slope of a
          // 48-trigger drain (shard stage 3.1 -> 7.2 s, 1566 files;
          // REFRESH_SLOPE48.json). One file per ~64k sequence rows,
          // re-widening toward the session parallelism only for
          // genuine backfill-sized deltas. The pack itself still
          // computes at full parallelism (persisted above); only the
          // write narrows.
          val files = math.max(1L,
            math.min(32L, deltaRows / 65536L + 1L)).toInt
          delta.coalesce(files).write.mode("overwrite").parquet(staging)
        } finally { delta.unpersist(); () }
      })
    // commit the carried-forward tail state only after the atomic
    // rename landed; a skipped re-delivery (published == false) never
    // ran the body and leaves the cache at its pre-trigger state
    if (published && committedState != null) {
      val fp = StoreFiles.fingerprint(new java.io.File(s"$storeDir/v$v"))
      if (fp.nonEmpty)
        tailCache.put(cacheKey, committedState.copy(dirFp = fp))
    }
    published
  }

  /** Drive a document stream (columns: shardCol, idCol, idsCol at
    * minimum) into the store, one [[append]] per micro-batch — the
    * batchId keys the committed version, making re-delivered batches
    * no-ops. Blocks until the AvailableNow drain completes. */
  def run(docs: DataFrame, idsCol: String, idCol: String, budget: Int,
          shardCol: String, storeDir: String,
          checkpointDir: String): Unit = {
    val q = docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch.sparkSession, batch, idsCol, idCol, budget,
          shardCol, storeDir, version = Some(batchId))
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** The merged store view: latest-wins per (shardCol, seq_id) across
    * every committed delta version. Superseded (shard, seq_id, version)
    * keys — only ever topped-up tails, so a set bounded by touched
    * shards x versions — are computed from narrow columns and removed
    * with a broadcast anti join: token payloads are never shuffled.
    * Null-safe on the shard key throughout.
    *
    * `asOf` reads the store AS OF a committed version (inclusive) —
    * the delta layout gives snapshot reads for free, and a training
    * run pinned to `asOf = v` is byte-reproducible no matter how many
    * crawl drops land afterwards (versions are immutable once
    * published; only [[compact]] retires them, into a NEW store). */
  def read(spark: SparkSession, storeDir: String,
           shardCol: String = "source",
           asOf: Option[Long] = None): DataFrame = {
    val all = versioned(spark, storeDir, asOf)
    all.join(broadcast(losers(all, shardCol)),
        col(shardCol) <=> col("__lS") && col("seq_id") === col("__lQ")
          && col("__v") === col("__lV"),
        "left_anti")
      .drop("__v")
  }

  /** All committed versions as ONE multi-path scan, tagged `__v` from
    * each file's parent directory name (`vN`). A V-way union of
    * per-version reads would grow the PLAN linearly in committed
    * version count, and with it every append's planning + job overhead
    * — measured as the dominant per-trigger slope of a long refresh
    * drain (shard append 3.5 s → 8.8 s across 16 un-compacted
    * triggers; the single-scan form holds the plan constant and leaves
    * only the inherent file-count growth, which is compaction's job).
    * asOf filtering stays at the PATH level, so snapshot reads scan
    * only their versions. */
  private def versioned(spark: SparkSession, storeDir: String,
                        asOf: Option[Long]): DataFrame = {
    StoreFiles.requireNotRetired(storeDir, "shard store")
    val units = liveUnits(storeDir)
    // asOf below the tiered floor cannot be served: rows a run's range
    // resolved away exist nowhere (same loud-failure contract as the
    // generation floor). At or above it, every run is fully included
    // (hi <= floor <= asOf) and delta dirs filter at the path level.
    for (v <- asOf; f <- units.filter(_.tier > 0).map(_.hi).maxOption)
      if (v < f) throw new IllegalStateException(
        s"shard store at $storeDir: asOf=$v is below the tiered " +
          s"retention floor $f - versions inside a tier run's range " +
          "were resolved physically by compaction; history below the " +
          "floor is beyond retention")
    val keep = asOf.fold(units)(v => units.filter(_.lo <= v))
    if (keep.isEmpty) throw new IllegalStateException(
      s"no shard store versions under $storeDir" +
        asOf.fold("")(v => s" at or before v$v"))
    scanUnits(spark, keep.filter(_.tier > 0), keep.filter(_.tier == 0))
  }

  /** One frame over the given run + delta units, every row tagged
    * `__v`. Schema drift: a column added in a later delta version must
    * be visible (NULL-padded) across the whole scan, not silently
    * dropped because the sampled footer predates it — the per-version
    * unionByName this scan replaced failed loudly on drift. The
    * NEWEST unit's schema provides that visibility (deltas only ever
    * ADD columns; an explicit schema NULL-pads the older files that
    * predate the addition) without mergeSchema's distributed
    * footer-merge job, which re-reads EVERY file's footer on EVERY
    * read construction — O(versions) per append, measured as the
    * per-trigger slope of a long un-compacted drain
    * (SHARD_APPEND_SLOPE.json). Deltas derive `__v` from their dir
    * name, guarded per row (an unparseable parent directory would
    * cast to NULL and silently corrupt latest-wins resolution, so it
    * raises instead — codegen'd branch, no measurable scan cost);
    * tier runs carry `__v` physically, so the union is two scan nodes
    * regardless of unit count. */
  private def scanUnits(spark: SparkSession, runs: Seq[TierUnit],
                        deltas: Seq[TierUnit]): DataFrame = {
    require(runs.nonEmpty || deltas.nonEmpty, "no units to scan")
    val newest = (runs ++ deltas).maxBy(_.hi)
    val latestSchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(newest.dir.getAbsolutePath)
        .schema.filterNot(_.name == "__v"))
    val deltaScan =
      if (deltas.isEmpty) None
      else {
        val raw = spark.read.schema(latestSchema)
          .parquet(deltas.map(_.dir.getAbsolutePath): _*)
          .withColumn("__v", substring(element_at(
            split(input_file_name(), "/"), -2), 2, 18).cast("long"))
        Some(raw.withColumn("__v",
          when(col("__v").isNull, raise_error(concat(
            lit("shard store layout violation: unparseable version " +
              "dir for "),
            input_file_name()))).otherwise(col("__v"))))
      }
    val runScan =
      if (runs.isEmpty) None
      else Some(spark.read
        .schema(latestSchema.add("__v",
          org.apache.spark.sql.types.LongType))
        .parquet(runs.map(_.dir.getAbsolutePath): _*))
    (deltaScan, runScan) match {
      case (Some(d), Some(r)) => d.unionByName(r)
      case (Some(d), None) => d
      case (None, Some(r)) => r
      case (None, None) => throw new IllegalStateException("unreachable")
    }
  }

  /** Superseded (shard, seq_id, version) keys of the latest-wins merge
    * — shared by [[read]] (anti join) and [[describe]] (debt count).
    * Renamed narrow-column projections keep the self-join lineage
    * unambiguous (DetectAmbiguousSelfJoin) AND null-safe on the
    * shard. */
  private def losers(all: DataFrame, shardCol: String): DataFrame = {
    val keys = all.select(col(shardCol).as("__kS"),
      col("seq_id").as("__kQ"), col("__v").as("__kV"))
    val maxes = keys.groupBy(col("__kS"), col("__kQ"))
      .agg(max(col("__kV")).as("__vmax"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1) // sole-version keys can't have losers
      .select(col("__kS").as("__mS"), col("__kQ").as("__mQ"),
        col("__vmax"))
    keys.join(maxes,
        col("__kS") <=> col("__mS") && col("__kQ") === col("__mQ"))
      .filter(col("__kV") < col("__vmax"))
      .select(col("__kS").as("__lS"), col("__kQ").as("__lQ"),
        col("__kV").as("__lV"))
  }

  /** Operational description of the store — one row per committed
    * version: its delta size (rows / shards touched / token mass) and
    * how many of its rows the current latest-wins view supersedes
    * (`n_superseded` — the compaction debt a [[compact]] would drop
    * physically). The scheduling signal the ShardSink scaladoc's
    * "compacts old versions on a schedule" needs: compact when
    * version count or total debt passes a threshold. Narrow columns
    * only — token payloads are never read. */
  def describe(spark: SparkSession, storeDir: String,
               shardCol: String = "source"): DataFrame = {
    val all = versioned(spark, storeDir, None)
    val narrow = all.select(col(shardCol), col("seq_id"),
      col("n_tokens"), col("__v"))
    val superseded = narrow.join(broadcast(losers(all, shardCol)),
        col(shardCol) <=> col("__lS") && col("seq_id") === col("__lQ")
          && col("__v") === col("__lV"), "left_semi")
      .groupBy(col("__v")).agg(count(lit(1)).as("n_superseded"))
    narrow.groupBy(col("__v"))
      .agg(count(lit(1)).as("n_rows"),
        // struct-wrapped so the NULL shard counts as a shard
        countDistinct(struct(col(shardCol))).as("n_shards"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
      .join(superseded, Seq("__v"), "left")
      .select(col("__v").as("version"), col("n_rows"), col("n_shards"),
        col("n_tokens"),
        coalesce(col("n_superseded"), lit(0L)).as("n_superseded"))
      .orderBy(col("version"))
  }

  /** Fold committed delta versions into a fresh base version (`v0` of
    * a NEW store at `outDir`) — the scheduled compaction the delta
    * layout assumes: latest-wins is resolved PHYSICALLY, so superseded
    * topped-up tail rows are absent from the new layout and every
    * later [[read]] merge over it is cheap. Never rewrites `storeDir`
    * in place — readers of the old layout are undisturbed until the
    * caller swaps them over.
    *
    * `keepVersions` > 0 is WINDOWED retention: the newest K delta dirs
    * are carried into the new store verbatim (same version keys) and
    * only versions at or below the cutoff fold into `v0`, so a
    * trailing window of asOf snapshots survives the compaction — the
    * Delta-Lake retention-window analogue. The lineage marker records
    * `max` = highest version COVERED (folded or copied — what
    * [[retire]] checks) and `floor` = the fold cutoff (what a managed
    * root's asOf guard checks). With the default `keepVersions = 0`
    * everything folds and the two coincide.
    *
    * Like the checkpoint coupling documented on [[append]], compaction
    * is a lineage cut for the version sequence BELOW the floor only;
    * appends keyed above `max` continue the global timeline.
    *
    * COST MODEL: the fold rewrites the whole merged view — O(current
    * store), NOT O(deltas folded) — so per-fold cost grows with store
    * lifetime while the debt it clears grows only with `compact_every`.
    * The schedule trades a larger amortized rewrite bill (frequent
    * folds re-pack the same base repeatedly) against per-trigger
    * merged-read debt (version/file count between folds). What keeps a
    * long-lived deployment's TRIGGERS flat despite the O(store) term
    * is running the fold OFF the drain's critical path —
    * [[StoreRoot.beginCompactShard]] folds in the background over the
    * immutable committed versions while appends keep landing, and only
    * the O(late-deltas) [[topUp]] + swap + retire runs inline. */
  def compact(spark: SparkSession, storeDir: String, outDir: String,
              shardCol: String = "source",
              keepVersions: Int = 0): Unit = {
    require(keepVersions >= 0,
      s"keepVersions must be >= 0: $keepVersions")
    StoreFiles.requireNotRetired(storeDir, "shard store")
    StoreFiles.requireNotRetired(outDir, "shard store")
    // a used target would otherwise be SILENT corruption: publishOnce
    // would no-op on an existing v0 and readers would keep serving the
    // old contents as if freshly compacted (the alternating-two-dirs
    // compaction pattern hits exactly this) — fail loudly instead
    require(versions(outDir).isEmpty,
      s"compaction target $outDir already holds store versions - " +
        "compact into a fresh directory")
    val vs = versions(storeDir)
    val maxCovered = (vs.lastOption.map(_._1) ++ tieredFloor(storeDir))
      .maxOption.getOrElse(throw new IllegalStateException(
        s"no shard store versions under $storeDir"))
    // windowed retention: fold versions at or below the cutoff into
    // the fresh base, carry the newest `keepVersions` delta dirs over
    // VERBATIM (same version keys - the global timeline continues and
    // a re-delivered append still finds its committed dir), so a
    // trailing asOf window survives the compaction; the fold always
    // absorbs at least the oldest version (deltas need their base).
    // A tiered store clamps the cutoff at the TIERED floor — history a
    // run resolved away cannot be carried verbatim, so the keep window
    // never reaches below it (and every run folds into the base).
    val rawCutoff =
      if (vs.isEmpty) maxCovered
      else vs(math.max(0, vs.length - 1 - keepVersions))._1
    val cutoff = (Seq(rawCutoff) ++ tieredFloor(storeDir)).max
    new java.io.File(outDir).mkdirs()
    StoreFiles.publishOnce(s"$outDir/.staging-v0",
      new java.io.File(s"$outDir/v0"), { staging =>
        read(spark, storeDir, shardCol, asOf = Some(cutoff))
          .write.mode("overwrite").parquet(staging)
      })
    vs.filter(_._1 > cutoff).foreach { case (n, f) =>
      StoreFiles.publishOnce(s"$outDir/.staging-v$n",
        new java.io.File(s"$outDir/v$n"),
        staging => StoreFiles.copyRec(f, new java.io.File(staging)))
    }
    // lineage marker AFTER the fold commits — [[retire]]'s precondition
    StoreFiles.writeCompactedFrom(outDir, storeDir, maxCovered,
      floor = Some(cutoff))
  }

  /** TOP-UP a committed compaction target with the delta versions its
    * source grew AFTER the fold was cut — the O(late-deltas) completion
    * step that lets the fold itself run out-of-band while appends keep
    * landing in the source ([[StoreRoot]]'s begin/finish split), and
    * equally the RESUME step for a fold that committed but crashed
    * before its swap. Late version dirs are copied VERBATIM (same
    * keys, staged + published, so re-delivered appends still find
    * their commits and a re-run top-up skips already-copied versions),
    * then the lineage marker's `max` advances atomically while `floor`
    * stays at the original fold cutoff — the copied versions remain
    * individually addressable by asOf, exactly like windowed
    * retention's carried deltas. No-op when the target already covers
    * the source. */
  private[graft] def topUp(storeDir: String, outDir: String): Unit = {
    val m = StoreFiles.readMarker(
        new java.io.File(outDir, StoreFiles.CompactedFromMarker))
      .getOrElse(throw new IllegalStateException(
        s"top-up target $outDir carries no committed fold marker - " +
          "nothing to top up (a partial fold is swept and redone, " +
          "never topped up)"))
    val max = m("max").toLong
    // tier folds and generation folds on one store must be serialized
    // by the caller (runManaged's one-in-flight queue does): a run
    // committed between this generation fold's cut and its top-up
    // would cover versions the top-up copies verbatim — fail loudly
    // rather than double-serve them
    require(!tieredFloor(storeDir).exists(_ > max),
      s"top-up source $storeDir grew a tier run past the generation " +
        s"fold's cut v$max - tier and generation folds must not " +
        "interleave on one store")
    val late = versions(storeDir).filter(_._1 > max)
    if (late.isEmpty) return
    late.foreach { case (n, f) =>
      StoreFiles.publishOnce(s"$outDir/.staging-v$n",
        new java.io.File(s"$outDir/v$n"),
        staging => StoreFiles.copyRec(f, new java.io.File(staging)))
    }
    StoreFiles.writeCompactedFrom(outDir, storeDir, late.last._1,
      floor = Some(m.getOrElse("floor", m("max")).toLong))
  }

  /** Retention: delete a PRE-COMPACTION store after its readers have
    * drained — the vacuum verb the delta layout needs (per-version
    * deletion is impossible here: versions are DELTAS, so dropping v0
    * would corrupt every later merge; what retires is the whole
    * superseded layout, the Delta-Lake-VACUUM analogue where the unit
    * of reclamation is the pre-compaction file set). Refuses loudly
    * unless `compactedTo` carries a [[compact]] lineage marker naming
    * this store AND covering its latest committed version (appends
    * landed after the compaction would otherwise be destroyed). The
    * `_graft_retired` tombstone is written BEFORE the payload sweep and
    * outlives it, so a late reader — including any `asOf`, which is now
    * below the retention floor — fails loudly naming the successor,
    * never sees a partial or empty store. */
  def retire(storeDir: String, compactedTo: String): Unit = {
    StoreFiles.beginRetire(storeDir, compactedTo,
      (versions(storeDir).map(_._1) ++ tieredFloor(storeDir)).maxOption)
    StoreFiles.deletePayload(storeDir)
  }
}
