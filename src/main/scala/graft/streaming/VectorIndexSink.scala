package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, max, sum, when}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.graftglue.GraftGlue
import graft.operators.Similarity

/** Streaming vector ingest into a SAVED IVF-PQ index — q158/q159's
  * frozen-codebook append driven by the real micro-batch engine: each
  * arriving batch of embeddings is assigned + encoded under the shipped
  * codebooks (no Lloyd's, O(batch) work) and landed as an immutable
  * per-batch delta directory next to the base `encoded` table. The
  * FAISS-plus-message-bus production pattern (new vectors trickle into
  * a serving index between scheduled retrains), with the delivery
  * semantics of [[StoreFiles.publishOnce]]:
  *
  *  - **atomic**: a delta is staged and published with a single
  *    filesystem rename, so a concurrent [[read]] never observes a
  *    half-written batch;
  *  - **effectively exactly-once**: deltas are keyed by the streaming
  *    batchId — `foreachBatch` is at-least-once, and a re-delivered
  *    batch finds its published directory and skips, so a post-commit
  *    crash never double-appends. Like every batchId-keyed foreachBatch
  *    recipe this couples the index to ONE checkpoint lineage:
  *    recreating the checkpoint restarts batchIds at 0, so it requires
  *    a fresh index dir (or explicit batch keys via [[appendBatch]]);
  *  - **O(batch) per trigger**: the base table and prior deltas are
  *    never read on the append path (codebook load is the bounded,
  *    cached driver collect of `Similarity.ivfPqCodebooks`).
  *
  * Each delta keeps the `__list` partitioning, so a probe over [[read]]
  * still prunes to its nProbe lists within every delta. Deltas
  * accumulate one directory per batch; [[compact]] folds them into a
  * fresh single-table index on a schedule (the FileSink.compact
  * discipline — serve from the compacted copy, never rewrite in
  * place). */
object VectorIndexSink {

  /** Published append-delta directories, batch order. */
  private def deltaDirs(indexDir: String): Seq[(Long, java.io.File)] =
    StoreFiles.publishedDirs(s"$indexDir/appends", "b",
      StoreFiles.hasListPartitions)

  /** Published tombstone directories, batch order. */
  private def tombstoneDirs(indexDir: String): Seq[(Long, java.io.File)] =
    StoreFiles.publishedDirs(s"$indexDir/tombstones", "d",
      StoreFiles.hasParquet)

  /** Distinct published batch ids — [[StoreRoot]]'s anything-to-fold
    * check under a retention window. Counts LIVE units: tier runs
    * collapse the arm batches they cover into one unit each. */
  private[graft] def batchCount(indexDir: String): Int =
    liveUnits(indexDir).size

  // ---- size-tiered (LSM) runs ----
  //
  // [[ShardSink]]'s tier-run design on the vector store's arms: a run
  // covers a CONTIGUOUS batch-id range and holds (a) `rows/` — the
  // in-range append rows that survive the in-range tombstones, each
  // keeping its ORIGINAL batch tag `__b` physical and its `__list`
  // partitioning, and (b) `tombs/` — the per-id MAX tombstone batch
  // `__t` of the range, retained because those tombstones still mask
  // the base (batch -1) and any earlier run's rows. The global masked
  // read over run ∪ live arms is therefore IDENTICAL to the unfolded
  // view ("dies iff some tombstone at-or-after the append batch" is
  // preserved by per-id max). Runs live under `runs/` — `u<id>`
  // committed-but-unreferenced, one atomic rename to `t<id>` as the
  // swap, covered arms retired after: the same crash windows as the
  // shard store's tier machine.

  /** One live unit: a batch id's arm(s) (`tier` 0 — an append delta, a
    * tombstone set, or both at one id) or a referenced tier run. */
  private[graft] final case class VUnit(tier: Int, lo: Long, hi: Long,
      run: Option[java.io.File], append: Option[java.io.File],
      tomb: Option[java.io.File])

  private def runsDir(indexDir: String): String = s"$indexDir/runs"

  private def hasRunMarker(d: java.io.File): Boolean =
    new java.io.File(d, StoreFiles.TierRunMarker).isFile

  private def runUnits(indexDir: String, prefix: String): Seq[VUnit] =
    StoreFiles.publishedDirs(runsDir(indexDir), prefix, hasRunMarker)
      .flatMap { case (_, d) =>
        StoreFiles.runMeta(d).map { case (t, lo, hi) =>
          VUnit(t, lo, hi, Some(d), None, None) }
      }

  /** Referenced runs not nested inside a strictly larger one — the
    * run arms [[read]] scans. */
  private def liveRuns(indexDir: String): Seq[VUnit] = {
    val runs = runUnits(indexDir, "t")
    runs.filter(r => !runs.exists(o =>
      o.lo <= r.lo && r.hi <= o.hi && (o.hi - o.lo) > (r.hi - r.lo)))
  }

  /** The store's live units ascending by batch range: maximal runs
    * plus every uncovered arm batch id (see [[ShardSink.liveUnits]]
    * for the structural-liveness rationale). */
  private[graft] def liveUnits(indexDir: String): Seq[VUnit] = {
    val runs = liveRuns(indexDir)
    def covered(id: Long) = runs.exists(r => r.lo <= id && id <= r.hi)
    val app = deltaDirs(indexDir).toMap
    val ts = tombstoneDirs(indexDir).toMap
    val arms = (app.keySet ++ ts.keySet).filterNot(covered).toSeq.sorted
      .map(id => VUnit(0, id, id, None, app.get(id), ts.get(id)))
    (runs ++ arms).sortBy(u => (u.lo, -u.hi))
  }

  /** Highest batch any referenced run covers — the tiered retention
    * floor (asOf below it fails loudly; appends/tombstones at or below
    * it are re-deliveries and skip). */
  private[graft] def tieredFloor(indexDir: String): Option[Long] =
    runUnits(indexDir, "t").map(_.hi).maxOption

  /** Committed-but-unreferenced runs — adopted by the tiered begin. */
  private[graft] def pendingRuns(indexDir: String): Seq[VUnit] =
    runUnits(indexDir, "u")

  private[streaming] def maxRunId(indexDir: String): Long =
    (StoreFiles.publishedDirs(runsDir(indexDir), "t", hasRunMarker) ++
      StoreFiles.publishedDirs(runsDir(indexDir), "u", hasRunMarker))
      .map(_._1).maxOption.getOrElse(-1L)

  /** The size-tiered fold plan — [[ShardSink.tierPlan]]'s rule on the
    * vector units: the oldest window of `fanout` consecutive live
    * units sharing one tier, never touching the newest `keep`. */
  private[graft] def tierPlan(indexDir: String, fanout: Int,
                              keep: Int): Option[Seq[VUnit]] = {
    require(fanout >= 2, s"tier fanout must be >= 2: $fanout")
    val units = liveUnits(indexDir).dropRight(keep)
    (0 to units.length - fanout).view
      .map(i => units.slice(i, i + fanout))
      .find(w => w.forall(_.tier == w.head.tier))
  }

  /** Write the tier run folding `units` into `staging` (`rows/` +
    * `tombs/` + range marker — see the layout note above). Reads
    * O(units), never the base or the rest of the store. */
  private[streaming] def writeTierRun(spark: SparkSession,
      units: Seq[VUnit], tier: Int, staging: String,
      idCol: String): Unit = {
    val rowArms = units.flatMap { u =>
      u.run.filter(r => new java.io.File(r, "rows").isDirectory)
        .map(r => spark.read.parquet(s"${r.getAbsolutePath}/rows"))
        .toSeq ++
        u.append.map(a => spark.read.parquet(a.getAbsolutePath)
          .withColumn("__b", lit(u.lo)))
    }
    val tombArms = units.flatMap { u =>
      u.run.filter(r => new java.io.File(r, "tombs").isDirectory)
        .map(r => spark.read.parquet(s"${r.getAbsolutePath}/tombs")
          .select(col(idCol), col("__t")))
        .toSeq ++
        u.tomb.map(t => spark.read.parquet(t.getAbsolutePath)
          .select(col(idCol), lit(u.lo).as("__t")))
    }
    val tombs =
      if (tombArms.isEmpty) None
      else Some(tombArms.reduce(_ unionByName _)
        .groupBy(col(idCol)).agg(max(col("__t")).as("__t")))
    val rows = rowArms.reduceOption(_ unionByName _).map { enc =>
      tombs.fold(enc) { dead =>
        val d = dead.select(col(idCol).as("__did"), col("__t"))
        enc.join(broadcast(d),
          enc(idCol) === d("__did") && d("__t") >= enc("__b"),
          "left_anti")
      }
    }
    new java.io.File(staging).mkdirs()
    // `rows/` and `tombs/` are each OPTIONAL (absent when the range
    // had no appends / no tombstones — [[read]] skips absent sides),
    // so no side ever needs a fabricated empty frame whose column
    // types could diverge from the real arms'
    rows.foreach { r =>
      val cached = r.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // an all-tombstoned range would write zero partition dirs
        // under partitionBy and the run's rows/ would not be
        // readable — write the (rare) empty survivor set as one
        // schema-only file with __list as a physical column instead
        if (cached.isEmpty)
          cached.coalesce(1).write.mode("overwrite")
            .parquet(s"$staging/rows")
        else
          cached.write.mode("overwrite").partitionBy("__list")
            .parquet(s"$staging/rows")
      } finally { cached.unpersist(); () }
    }
    tombs.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$staging/tombs"))
    StoreFiles.writeMarker(
      new java.io.File(staging, StoreFiles.TierRunMarker),
      Seq(s"tier=$tier", s"lo=${units.head.lo}",
        s"hi=${units.last.hi}"))
  }

  /** Retire every arm/run a referenced run covers, plus abandoned fold
    * staging — the tier machine's retire verb and swap-no-retire heal
    * (idempotent; covered dirs are invisible to reads either way). */
  private[streaming] def sweepCovered(indexDir: String): Unit = {
    val runs = liveRuns(indexDir)
    def covered(lo: Long, hi: Long): Boolean =
      runs.exists(r => r.lo <= lo && hi <= r.hi &&
        (r.hi - r.lo) > (hi - lo))
    deltaDirs(indexDir).foreach { case (b, f) =>
      if (covered(b, b)) StoreFiles.deleteRec(f)
    }
    tombstoneDirs(indexDir).foreach { case (t, f) =>
      if (covered(t, t)) StoreFiles.deleteRec(f)
    }
    runUnits(indexDir, "t").foreach { r =>
      if (covered(r.lo, r.hi)) StoreFiles.deleteRec(r.run.get)
    }
    Option(new java.io.File(runsDir(indexDir)).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".staging-u"))
      .foreach(StoreFiles.deleteRec)
  }

  /** Post-kill disk forensics for the tiered machine — see
    * [[ShardSink.tieredWindow]]. */
  private[graft] def tieredWindow(indexDir: String): String = {
    val pre = pendingRuns(indexDir).nonEmpty ||
      Option(new java.io.File(runsDir(indexDir)).listFiles())
        .getOrElse(Array.empty)
        .exists(f => f.isDirectory && f.getName.startsWith(".staging-u"))
    if (pre) "pre-swap"
    else {
      val runs = liveRuns(indexDir)
      def covered(lo: Long, hi: Long): Boolean =
        runs.exists(r => r.lo <= lo && hi <= r.hi &&
          (r.hi - r.lo) > (hi - lo))
      val unretired =
        deltaDirs(indexDir).exists { case (b, _) => covered(b, b) } ||
          tombstoneDirs(indexDir).exists { case (t, _) =>
            covered(t, t) } ||
          runUnits(indexDir, "t").exists(r => covered(r.lo, r.hi))
      if (unretired) "swap-no-retire" else "none"
    }
  }

  /** Append one batch under the frozen codebooks as delta `b<batchId>`.
    * Returns false (no work) if that delta is already published — the
    * at-least-once re-delivery path. Also the non-streaming entry
    * point: a scheduler-driven pipeline calls exactly this per drop. */
  def appendBatch(spark: SparkSession, indexDir: String, batchId: Long,
                  batch: DataFrame, vecCol: String = "embedding",
                  idCol: String = "vec_id"): Boolean = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    // a batch at or below the tiered floor was folded into a tier run
    // (its arm dir is retired, so publishOnce alone would NOT skip it)
    if (tieredFloor(indexDir).exists(batchId <= _)) return false
    StoreFiles.publishOnce(s"$indexDir/.staging-b$batchId",
      new java.io.File(s"$indexDir/appends/b$batchId"), { staging =>
        // codebooks only: the append never opens `encoded`
        val (coarse, cb, _) = Similarity.ivfPqCodebooks(spark, indexDir)
        Similarity.ivfPqEncodeFrozen(coarse, cb, batch, vecCol, idCol)
          .write.mode("overwrite").partitionBy("__list").parquet(staging)
      })
  }

  /** Drive an embedding stream (idCol, vecCol at minimum) into the
    * index, one [[appendBatch]] per micro-batch. Blocks until the
    * AvailableNow drain completes. */
  def run(vecs: DataFrame, indexDir: String, checkpointDir: String,
          vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val q = vecs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch.sparkSession, indexDir, batchId, batch,
          vecCol, idCol)
        () // foreachBatch wants Unit; appendBatch's Boolean is advisory
      }
      .start()
    q.awaitTermination()
  }

  /** Remove vectors from the served view WITHOUT rewriting anything —
    * the FAISS `remove_ids` path as an O(batch) tombstone delta: the id
    * set is staged and atomically published under `tombstones/d<id>`,
    * with the same batchId-keyed exactly-once skip as [[appendBatch]].
    * Tombstones and appends share one monotonic batch sequence (the
    * stream's batchId, or the caller's keys for manual ops): tombstone
    * `d<T>` masks the id in the base table and in every append
    * published AT or BEFORE T, while an append with a LATER batch id
    * re-adds the vector and serves — the FAISS remove-then-add
    * ordering. [[compact]] makes the removals physical (masked rows
    * are absent from the fresh layout, which starts with no
    * tombstones) and preserves later re-adds. */
  def deleteBatch(spark: SparkSession, indexDir: String, batchId: Long,
                  ids: DataFrame, idCol: String = "vec_id"): Boolean = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    // same tiered-floor re-delivery skip as [[appendBatch]]
    if (tieredFloor(indexDir).exists(batchId <= _)) return false
    StoreFiles.publishOnce(s"$indexDir/.staging-d$batchId",
      new java.io.File(s"$indexDir/tombstones/d$batchId"), { staging =>
        ids.select(idCol).distinct()
          .write.mode("overwrite").parquet(staging)
      })
  }

  // ---- the serving path's arm cache ----
  //
  // Opening an arm with `spark.read.parquet` lists its files (a Spark
  // job once it has more than 32 `__list=` dirs) and runs a parquet
  // schema job. The base, tombstone and tier-run arms still open that
  // way; an append delta has the base's layout and opens from the base
  // relation's schema and the fingerprint walk's own file listing
  // (`GraftGlue.openLike`), with no job at all. Either way the open is
  // driver time paid before a probe is scored.
  // [[read]] keeps, per index dir, the resolved relation of every arm
  // it served, keyed by the arm's path and [[StoreFiles.fingerprint]].
  // Published arms are immutable (one atomic rename), so they hit until
  // they are retired; the base `encoded` table can grow in place
  // (`Similarity.ivfPqAppendSave`), which changes its fingerprint and
  // misses. An arm with an empty fingerprint (non-local or unreadable)
  // is never cached. Relations belong to the session that opened them,
  // so an entry serves only that session; another session's read of
  // the same dir replaces it. Every read drops the arms no longer on
  // disk, and the dirs that are gone or whose session has stopped.
  private final case class ServedArms(session: SparkSession,
      arms: Map[String, (String, DataFrame)])
  private val servedArms =
    new java.util.concurrent.ConcurrentHashMap[String, ServedArms]()

  /** The arm paths [[read]] holds open for `indexDir`. */
  private[graft] def cachedArms(indexDir: String): Set[String] =
    Option(servedArms.get(StoreFiles.cacheKey(indexDir)))
      .fold(Set.empty[String])(_.arms.keySet)

  /** The serving view: base `encoded` plus every published append
    * delta, minus tombstoned ids (batch-ordered — see [[deleteBatch]]),
    * under the saved codebooks. Delta and tombstone counts are bounded
    * by [[compact]]'s schedule; each union arm keeps its own `__list`
    * pruning, and the tombstone mask is a broadcast anti join (delete
    * batches are small by nature; a backlog large enough to strain a
    * broadcast is overdue for compaction).
    *
    * Arm cache: every arm (base, append delta, tombstone set, tier-run
    * side) is opened once per session and reused while its file
    * fingerprint (name + length + mtime of every file under it) is
    * unchanged, so a repeat read of an unchanged index launches no
    * Spark job and a read after an append opens only the new delta,
    * again with no job: a new delta opens with the base arm's schema
    * and its own fingerprint listing. Each read keeps the arms still
    * on disk, whether or not it served them (an `asOf` read does not
    * evict newer arms): arms retired by a fold, [[compact]] or
    * [[retire]] drop out, and memory stays
    * O(live arms) per index dir. Dirs that no longer exist and
    * sessions that have stopped are dropped on every read. The
    * retired, tiered-floor and torn-append checks run on every call. */
  def read(spark: SparkSession, indexDir: String,
           idCol: String = "vec_id",
           asOf: Option[Long] = None): Similarity.IvfPqIndex = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    val (coarse, cb, nLists) = Similarity.ivfPqCodebooks(spark, indexDir)
    val key = StoreFiles.cacheKey(indexDir)
    val known = Option(servedArms.get(key)).filter(_.session eq spark)
      .fold(Map.empty[String, (String, DataFrame)])(_.arms)
    val served = Map.newBuilder[String, (String, DataFrame)]
    // fingerprint BEFORE opening: a change racing the open leaves a
    // stale fingerprint that misses next time, never a stale relation
    // under a current fingerprint
    def open(path: String, like: Option[DataFrame] = None): DataFrame = {
      val dir = new java.io.File(path)
      val files = StoreFiles.listing(dir)
      val fp = StoreFiles.fingerprintOf(dir, files)
      if (fp.isEmpty) spark.read.parquet(path)
      else {
        val df = known.get(path).filter(_._1 == fp).map(_._2)
          .orElse(like.flatMap(GraftGlue.openLike(_, path, files)))
          .getOrElse(spark.read.parquet(path))
        served += path -> (fp, df)
        df
      }
    }
    // `asOf` serves the index AS OF a batch id (inclusive): append
    // deltas and tombstones published after it are invisible — the
    // snapshot an evaluation run pins so its candidate set cannot
    // drift under later ingest. Published batches are immutable, so
    // the same asOf always serves the same view. An asOf below the
    // TIERED floor cannot be served (rows the runs' in-range masking
    // resolved away exist nowhere) and fails loudly; at or above it
    // every run is fully included (hi <= floor <= asOf).
    val runs = liveRuns(indexDir)
    for (v <- asOf; f <- runs.map(_.hi).maxOption)
      if (v < f) throw new IllegalStateException(
        s"vector index at $indexDir: asOf=$v is below the tiered " +
          s"retention floor $f - batches inside a tier run's range " +
          "were resolved physically by compaction; history below the " +
          "floor is beyond retention")
    def live(id: Long) = !runs.exists(r => r.lo <= id && id <= r.hi)
    def upTo[A](ds: Seq[(Long, A)]): Seq[(Long, A)] =
      asOf.fold(ds)(v => ds.filter(_._1 <= v))
        .filter { case (id, _) => live(id) }
    // an append delta has the base's layout: it opens with the base's
    // schema and its fingerprint listing, so no listing or schema job
    val baseArm = open(s"$indexDir/encoded")
    // tag every arm with its append batch; the base predates all
    // batches, so any tombstone masks it; run rows carry their batch
    // tags (and run tombstones their batch) physically
    val enc = (runs
      .filter(r => new java.io.File(r.run.get, "rows").isDirectory)
      .map(r => open(s"${r.run.get.getAbsolutePath}/rows")) ++
      upTo(deltaDirs(indexDir)).map { case (b, f) =>
        open(f.getAbsolutePath, Some(baseArm)).withColumn("__b", lit(b))
      })
      .foldLeft(baseArm.withColumn("__b", lit(-1L)))(_ unionByName _)
    val dead = (runs
      .filter(r => new java.io.File(r.run.get, "tombs").isDirectory)
      .map(r => open(s"${r.run.get.getAbsolutePath}/tombs")
        .select(col(idCol), col("__t"))) ++
      upTo(tombstoneDirs(indexDir)).map { case (t, f) =>
        open(f.getAbsolutePath).withColumn("__t", lit(t))
      }).reduceOption(_ unionByName _)
    val masked = dead match {
      case None => enc
      case Some(d0) =>
        val d = d0.select(col(idCol).as("__did"), col("__t"))
        // a row dies iff SOME tombstone at-or-after its append batch
        // names its id; equi component on the id keeps this a broadcast
        // HASH anti join, the __t >= __b residual rides along
        enc.join(broadcast(d),
          enc(idCol) === d("__did") && d("__t") >= enc("__b"),
          "left_anti")
    }
    servedArms.put(key, ServedArms(spark,
      known.filter(a => new java.io.File(a._1).isDirectory) ++
        served.result()))
    servedArms.entrySet.removeIf { e =>
      !new java.io.File(e.getKey).isDirectory ||
        e.getValue.session.sparkContext.isStopped
    }
    Similarity.IvfPqIndex(masked.drop("__b"), coarse, cb, nLists)
  }

  /** Fold base + deltas minus tombstones into a fresh single-table
    * index at `outDir` — run on a schedule (or when delta/tombstone
    * count passes a threshold), then swap serving to the compacted
    * copy. Never rewrites `indexDir` in place, so readers of the old
    * layout are undisturbed; masked rows at or below the fold cutoff
    * are ABSENT from the new layout (physical erasure) and re-adds
    * published after their tombstone survive.
    *
    * `keepBatches` > 0 is WINDOWED retention: the newest K batch ids
    * (appends and tombstones share one sequence) are carried over
    * verbatim — same keys, so re-delivery skips still hold and a
    * trailing window of asOf snapshots survives — and only arms at or
    * below the cutoff fold into the base. A retained tombstone keeps
    * masking the folded base (the base carries batch tag -1), so the
    * served view is unchanged by WHERE the cutoff lands. The lineage
    * marker records `max` = highest batch COVERED (folded or copied —
    * [[retire]]'s check) and `floor` = the fold cutoff (the managed
    * root's asOf guard). With `keepBatches = 0` everything folds and
    * the new layout starts with no tombstones.
    *
    * COST MODEL: same as [[ShardSink.compact]] — the fold rewrites the
    * whole served table, O(current index) not O(arms folded), so a
    * long-lived deployment keeps its triggers flat by folding
    * OUT-OF-BAND ([[StoreRoot.beginCompactVectors]]) and paying only
    * the O(late-arms) [[topUp]] + swap + retire inline. */
  def compact(spark: SparkSession, indexDir: String,
              outDir: String, keepBatches: Int = 0,
              idCol: String = "vec_id"): Unit = {
    require(keepBatches >= 0,
      s"keepBatches must be >= 0: $keepBatches")
    StoreFiles.requireNotRetired(indexDir, "vector index")
    StoreFiles.requireNotRetired(outDir, "vector index")
    // a used target would otherwise be SILENT corruption: ivfPqSave
    // overwrites the base tables but would leave the target's own
    // stale appends/tombstones beside the fresh fold, and readers
    // would serve the mixture (the alternating-two-dirs compaction
    // pattern hits exactly this) — fail loudly instead
    require(!new java.io.File(s"$outDir/encoded").exists()
        && deltaDirs(outDir).isEmpty && tombstoneDirs(outDir).isEmpty,
      s"compaction target $outDir already holds index state - " +
        "compact into a fresh directory")
    val ids = (deltaDirs(indexDir).map(_._1)
      ++ tombstoneDirs(indexDir).map(_._1)).distinct.sorted
    val maxCovered = ((ids :+ -1L) ++ tieredFloor(indexDir)).max
    // the newest `keepBatches` ids stay live deltas; everything at or
    // below the cutoff folds (cutoff -1 = base only, fold is a
    // rewrite). A tiered store clamps the cutoff at the TIERED floor —
    // arms a run resolved away cannot be carried verbatim, so the keep
    // window never reaches below it (and every run folds into the
    // base).
    val rawCutoff =
      if (ids.length > keepBatches) ids(ids.length - 1 - keepBatches)
      else -1L
    val cutoff = (Seq(rawCutoff) ++ tieredFloor(indexDir)).max
    Similarity.ivfPqSave(
      read(spark, indexDir, idCol, asOf = Some(cutoff)), outDir)
    (deltaDirs(indexDir).filter(_._1 > cutoff).map {
      case (n, f) => (s"appends/b$n", f) } ++
      tombstoneDirs(indexDir).filter(_._1 > cutoff).map {
        case (n, f) => (s"tombstones/d$n", f) })
      .foreach { case (rel, f) =>
        StoreFiles.publishOnce(s"$outDir/.staging-${rel.replace('/', '-')}",
          new java.io.File(s"$outDir/$rel"),
          staging => StoreFiles.copyRec(f, new java.io.File(staging)))
      }
    // lineage marker AFTER the fold commits — [[retire]]'s precondition
    StoreFiles.writeCompactedFrom(outDir, indexDir, maxCovered,
      floor = Some(cutoff))
  }

  /** TOP-UP a committed compaction target with the append/tombstone
    * arms its source grew AFTER the fold was cut — [[ShardSink.topUp]]'s
    * contract on the vector store: arms are copied verbatim (same batch
    * keys, staged + published, idempotent under re-run), then the
    * lineage marker's `max` advances atomically with `floor` pinned at
    * the fold cutoff. Copied tombstones keep masking by batch order
    * (the folded base carries tag -1, so any copied tombstone still
    * masks it); no-op when the target already covers the source. */
  private[graft] def topUp(indexDir: String, outDir: String): Unit = {
    val m = StoreFiles.readMarker(
        new java.io.File(outDir, StoreFiles.CompactedFromMarker))
      .getOrElse(throw new IllegalStateException(
        s"top-up target $outDir carries no committed fold marker - " +
          "nothing to top up (a partial fold is swept and redone, " +
          "never topped up)"))
    val max = m("max").toLong
    // same serialization guard as [[ShardSink.topUp]]: a tier run past
    // the generation fold's cut means tier and generation folds
    // interleaved on this store
    require(!tieredFloor(indexDir).exists(_ > max),
      s"top-up source $indexDir grew a tier run past the generation " +
        s"fold's cut b$max - tier and generation folds must not " +
        "interleave on one store")
    val late = deltaDirs(indexDir).filter(_._1 > max).map {
      case (n, f) => (n, s"appends/b$n", f) } ++
      tombstoneDirs(indexDir).filter(_._1 > max).map {
        case (n, f) => (n, s"tombstones/d$n", f) }
    if (late.isEmpty) return
    late.foreach { case (_, rel, f) =>
      StoreFiles.publishOnce(s"$outDir/.staging-${rel.replace('/', '-')}",
        new java.io.File(s"$outDir/$rel"),
        staging => StoreFiles.copyRec(f, new java.io.File(staging)))
    }
    StoreFiles.writeCompactedFrom(outDir, indexDir, late.map(_._1).max,
      floor = Some(m.getOrElse("floor", m("max")).toLong))
  }

  /** Retention: delete a PRE-COMPACTION index layout after its readers
    * have drained — [[ShardSink.retire]]'s contract on the vector
    * store (per-delta deletion is impossible: tombstones mask appends
    * by batch order, so dropping any arm would change the served
    * view; the unit of reclamation is the whole superseded layout).
    * Refuses loudly unless `compactedTo` carries a [[compact]] lineage
    * marker naming this index AND covering its latest published batch
    * (appends/tombstones landed after the compaction would otherwise
    * be destroyed). The `_graft_retired` tombstone is written BEFORE
    * the payload sweep and outlives it, so a late reader — including
    * any `asOf`, now below the retention floor — fails loudly naming
    * the successor, never serves a partial index. */
  def retire(indexDir: String, compactedTo: String): Unit = {
    val latest = deltaDirs(indexDir).map(_._1) ++
      tombstoneDirs(indexDir).map(_._1) ++ tieredFloor(indexDir)
    StoreFiles.beginRetire(indexDir, compactedTo,
      if (latest.isEmpty) None else Some(latest.max))
    servedArms.remove(StoreFiles.cacheKey(indexDir))
    StoreFiles.deletePayload(indexDir)
  }

  /** Operational description of the index store — one row per arm
    * (`base`, each append delta, each tombstone set): its batch id
    * (-1 for the base), row count, and for vector-bearing arms how
    * many of their rows the current tombstone set masks (`n_masked` —
    * the compaction debt [[compact]] would erase physically, re-adds
    * excluded by the same batch-ordered rule [[read]] serves by). The
    * scheduling signal for the compact-on-a-schedule discipline:
    * compact when delta count, tombstone backlog, or total debt
    * passes a threshold. */
  def describe(spark: SparkSession, indexDir: String,
               idCol: String = "vec_id"): DataFrame = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    // ONE action over all arms (the ShardSink.describe shape), not a
    // driver loop of 2x(arms) jobs: every arm is tagged (kind, batch)
    // and unioned on its narrow id projection, the masked flag comes
    // from ONE broadcast join against the per-id max tombstone batch
    // (a row is masked iff max __t over its id >= its append batch —
    // the same batch-ordered rule [[read]] serves by, without the
    // per-tombstone row expansion a multi-match join would cost), and
    // rows + debt land in a single groupBy. Describing an overdue
    // store costs one action, not more the longer compaction is
    // deferred. The codebooks are never loaded (describe reads arm
    // FILES only — it even works on a store whose base is mid-append,
    // which is exactly when an operator reaches for observability).
    val ts = tombstoneDirs(indexDir)
    val runs = liveRuns(indexDir)
    def live(id: Long) = !runs.exists(r => r.lo <= id && id <= r.hi)
    val arms =
      (("base", -1L,
        spark.read.parquet(s"$indexDir/encoded"))
        +: deltaDirs(indexDir).filter(d => live(d._1)).map {
        case (b, f) =>
          ("append", b, spark.read.parquet(f.getAbsolutePath))
      }) ++ ts.filter(t => live(t._1)).map { case (t, f) =>
        ("tombstone", t, spark.read.parquet(f.getAbsolutePath))
      }
    val unioned = (arms.map { case (kind, b, df) =>
      df.select(col(idCol).as("__id"), lit(kind).as("kind"),
        lit(b).as("batch"))
    } ++ runs // run rows keep per-original-batch granularity via __b
      .filter(r => new java.io.File(r.run.get, "rows").isDirectory)
      .map(r => spark.read.parquet(s"${r.run.get.getAbsolutePath}/rows")
        .select(col(idCol).as("__id"), lit("run").as("kind"),
          col("__b").as("batch")))
      ).reduce(_ unionByName _)
    val runTombs = runs
      .filter(r => new java.io.File(r.run.get, "tombs").isDirectory)
      .map(r => spark.read.parquet(s"${r.run.get.getAbsolutePath}/tombs")
        .select(col(idCol).as("__did"), col("__t")))
    val flagged =
      if (ts.forall(t => !live(t._1)) && runTombs.isEmpty)
        unioned.withColumn("__m", lit(false))
      else {
        val tmax = (ts.filter(t => live(t._1)).map { case (t, f) =>
          spark.read.parquet(f.getAbsolutePath)
            .select(col(idCol).as("__did"), lit(t).as("__t"))
        } ++ runTombs).reduce(_ unionByName _)
          .groupBy(col("__did")).agg(max(col("__t")).as("__tmax"))
        unioned.join(broadcast(tmax),
            unioned("__id") === col("__did"), "left")
          // tombstone arms report their id counts, never debt
          .withColumn("__m", col("kind") =!= "tombstone" &&
            coalesce(col("__tmax") >= col("batch"), lit(false)))
      }
    flagged.groupBy(col("kind"), col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__m"), 1L).otherwise(0L)).as("n_masked"))
      .orderBy(col("batch"), col("kind"))
  }

  /** Drive a CDC stream (an `opCol` of "upsert" | "delete") into the
    * index with TRUE upsert semantics — FAISS's remove-then-add made
    * explicit in the store's batch sequence: stream batch T publishes
    * tombstone `d<2T>` for (deleted ids) UNION (upserted ids), then
    * append `b<2T+1>` for the upserted vectors, so an upsert replaces
    * every earlier copy of its id (no duplicates in the served view)
    * and a delete masks everything published before this trigger.
    * Within one batch the ops compose as remove-then-add: an id both
    * deleted and upserted in the same trigger SERVES its fresh copy.
    * Both publishes are keyed by the derived store-batch ids, so
    * foreachBatch's at-least-once re-delivery finds its commits and
    * skips — the same exactly-once discipline as [[run]], spread over
    * the two ticks each trigger owns. */
  def runCdc(events: DataFrame, indexDir: String, checkpointDir: String,
             opCol: String = "op", vecCol: String = "embedding",
             idCol: String = "vec_id"): Unit = {
    val q = events.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // ONE aggregation drives every routing decision of the trigger
        // (unknown-op gate, any-masked, any-upserts): the previous
        // three isEmpty probes plus the unknown-value distinct were
        // four separate jobs over the same micro-batch — pure
        // per-trigger driver overhead. Null ops group under null and
        // fail the gate exactly as the null-safe filters did.
        val opCounts = batch.groupBy(col(opCol))
          .agg(count(lit(1)).as("__n")).collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        val unknownVals = opCounts.keys
          .filterNot(v => v == "upsert" || v == "delete").toSeq
        if (unknownVals.nonEmpty)
          throw new IllegalArgumentException(
            s"runCdc: unknown $opCol value(s) in batch $batchId: " +
              unknownVals.take(10).mkString(", "))
        val nUps = opCounts.getOrElse("upsert", 0L)
        val nDels = opCounts.getOrElse("delete", 0L)
        val ups = batch.filter(col(opCol) === "upsert")
        val masked = batch.filter(col(opCol) === "delete")
          .select(col(idCol))
          .unionByName(ups.select(col(idCol)))
        if (nUps + nDels > 0)
          deleteBatch(s, indexDir, 2L * batchId, masked, idCol)
        if (nUps > 0)
          appendBatch(s, indexDir, 2L * batchId + 1L, ups, vecCol, idCol)
        ()
      }
      .start()
    q.awaitTermination()
  }
}
