package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.operators.Dedup
import graft.functions.{Bpe, BpeByteVocab}

/** The weekly crawl refresh END-TO-END on the streaming engine — the
  * composition q155 pins in batch form, here driven trigger-by-trigger:
  * each arriving crawl drop is exact-incrementally deduped, near-deduped,
  * decontaminated, byte-BPE tokenized, and appended to the persistent
  * shard store, all inside one `foreachBatch`. With `indexDir` set, the
  * SAME trigger also appends the accepted docs' embeddings to a served
  * [[VectorIndexSink]] store — one crawl drop maintaining BOTH stores a
  * training-data platform runs off (shards for the trainer, the vector
  * index for retrieval/dedup serving), under one delivery discipline.
  *
  * Reference semantics per tier (chosen to make the streamed run
  * EQUIVALENT to the one-shot batch chain, which is what its oracle
  * replays):
  *  - EXACT dedup references prior ∪ previously-ACCEPTED stream docs
  *    (a fingerprint ledger this pipeline maintains): with id-ordered
  *    drops this is global first-writer-wins — exactly the in-batch
  *    `row_number = 1` rule of the single-batch run.
  *  - NEAR dedup and n-gram decontamination reference the FIXED prior
  *    corpus / benchmark slice only (the q88/q92 incremental contract:
  *    near-dup decisions are made against the kept CORPUS, not against
  *    in-flight peers — two near-dup docs inside one refresh both land,
  *    same as the batch chain).
  *  - The shard append is O(batch) ([[ShardSink.append]]), versions
  *    keyed `batchId + 1` above the caller-seeded `v0` prior pack; the
  *    index append is [[VectorIndexSink.appendBatch]] keyed `batchId`
  *    above a caller-seeded base — so re-delivered triggers are no-ops
  *    on both stores.
  *
  * Per-trigger cost discipline: every prior-side derivation — exact
  * fingerprints, minhash band postings, reference grams — is
  * trigger-invariant, so each is computed ONCE per run and cached
  * (localCheckpoint, released on exit); a trigger pays only its own
  * batch's row-local passes, the bounded joins against those caches,
  * and the O(batch) appends. The exact tier has ONE path, and neither
  * of its history-sized terms grows per trigger: the bloom over
  * prior ∪ accepted history is a driver-held accumulator
  * ([[FingerprintBloom]] — built once, O(batch) `putString` per
  * trigger) probed on the batch checkpoint's own job, and only the
  * bloom-positive candidates are confirmed — against the prior through
  * [[graft.operators.FingerprintIndex.hits]] (O(candidates x log
  * corpus), no join) and against the earlier ledger batches through a
  * prefix-pruned read of the (compact, fingerprint-only) batches whose
  * prefix bitmaps meet the candidates'. The confirmed hits drop rows
  * in one row-local filter; no exchange touches the corpus.
  *
  * Ledger delivery contract (the at-least-once crash window, closed):
  * the ledger is a set of per-trigger directories `ledgerDir/b<id>`,
  * each holding the fingerprints THAT trigger accepted, published via
  * [[StoreFiles.publishOnce]] AFTER the trigger's store commits — and a
  * trigger builds its exact-tier reference ONLY from ledger batches
  * with id strictly BELOW its own. A re-delivered trigger therefore can
  * never see its own fingerprints (no self-masking: the re-run keeps
  * exactly the docs the first run kept, finds its store commits
  * published, and skips them), and a crash anywhere between the store
  * commit and the ledger publish is healed by the re-run republishing
  * the missing pieces from an identical `cleaned`. Earlier triggers'
  * ledger batches are always complete when trigger N runs: triggers
  * execute sequentially, and N-1's checkpoint only advances after its
  * whole body — ledger publish included — returned. */
object RefreshPipeline {

  /** Driver-held merged bloom over the exact tier's reference
    * fingerprints — the refresh loop's slope floor. Without it every
    * trigger re-aggregates a bloom over prior ∪ all earlier ledger
    * batches: O(accepted history) per trigger, the one per-trigger
    * term that grows with the corpus. With it the prior's bloom is
    * built once and each trigger's accepted fingerprints are folded
    * in with `putString` in O(batch), so steady-state exact-tier cost
    * is the batch's own probe plus a driver-side fold (~1.2 bytes/key
    * at fpp 0.01 — size the fpp, not the corpus).
    *
    * Crash/restart discipline: the accumulator is run-scoped driver
    * state, deliberately NOT persisted. [[bloomFor]] hands out the
    * held bloom only when the trigger sequence is unbroken
    * (`next == batchId`); a restart, a re-delivered trigger, or any
    * gap rebuilds from the confirm-side frame the caller already
    * assembled — which excludes the trigger's OWN ledger batch, so the
    * self-masking window stays closed exactly as for the confirm join.
    * Correctness never rests on the bloom's content: it must merely
    * cover the confirm reference (a superset is fine — extra members
    * only route more candidates into the confirm lookups), and
    * both the held and rebuilt paths cover it by construction.
    * Saturation past `capacity` degrades fpp (more confirm work),
    * never exactness. */
  private[graft] final class FingerprintBloom(fpp: Double,
                                              capacity: Long) {
    import org.apache.spark.util.sketch.BloomFilter
    private var acc: Option[(BloomFilter, Long)] = None // (bloom, next)

    /** The bloom for trigger `batchId`, covering prior ∪ ledger
      * batches < `batchId`: the held one when the trigger sequence is
      * unbroken, else rebuilt from `refFps` (one aggregation, paid on
      * a run's first trigger and after any sequence break). */
    def bloomFor(batchId: Long, refFps: DataFrame): BloomFilter =
      acc match {
        case Some((b, next)) if next == batchId => b
        case _ =>
          // An empty reference (bootstrapping a fresh store: no prior
          // corpus, no earlier ledger batches) must behave like the
          // pre-bloom path's lit(false): nothing is a member. Spark's
          // bloomFilter aggregate NPEs on zero rows, so hand back an
          // empty filter of the same shape instead.
          rebuildCount += 1
          val nonNull = refFps.filter(col("__pfp").isNotNull)
          val b =
            if (nonNull.isEmpty) BloomFilter.create(capacity, fpp)
            else nonNull.stat.bloomFilter("__pfp", capacity, fpp)
          acc = Some((b, batchId))
          b
      }

    /** Fold trigger `batchId`'s accepted fingerprints into the held
      * bloom and advance the sequence. The caller has them in hand (the
      * trigger's ledger write observes them — micro-batch bounded, the
      * single-file ledger contract's size class), so `putString` folds
      * them into the HELD bloom directly: O(batch) work, no Spark job,
      * and an empty trigger passes an empty array. Building a second
      * CAPACITY-sized filter with the bloomFilter aggregate just to OR
      * a few hundred members in would be a multi-GB allocation per
      * trigger at a 10^9-fingerprint corpus. putString and the
      * aggregate both hash the UTF-8 bytes, so membership is identical
      * either way. Called AFTER the trigger's ledger publish — a failed
      * trigger leaves the bloom unmerged, so its retry sees exactly the
      * reference it should. A sequence break is not an error: the next
      * [[bloomFor]] rebuilds. */
    def advanceWith(batchId: Long, fps: Array[String]): Unit =
      acc match {
        case Some((b, next)) if next == batchId =>
          fps.foreach(b.putString)
          acc = Some((b, batchId + 1L))
        case _ => ()
      }

    /** How many times [[bloomFor]] took the REBUILD branch — the
      * O(accepted history) aggregation the accumulator exists to
      * amortize away. A healthy unbroken run rebuilds exactly once
      * (the first trigger); each [[DrainLog]] row carries the count so a
      * long-horizon artifact can GATE it instead of inferring the
      * amortization from wall time. */
    def rebuilds: Long = rebuildCount
    private var rebuildCount = 0L
  }

  /** The auto-probe's crossover rule for routing a trigger's shard
    * append through [[graft.operators.Curate.packTokenIdsSkewRobust]]:
    * one shard holding more than a third of the batch (SKEW_SCALE's
    * measured crossover — below it the skew-robust form's extra
    * token-stream exchange costs more than the hot task saves), with a
    * floor below which the hot task is too small to matter (a few
    * thousand rows explode in milliseconds; the balanced overhead of
    * the join form, measured 1.17x, would be pure loss on every small
    * trigger). Pure function so the rule itself is spec-testable. */
  private[graft] def autoPackSkew(hotRows: Long, totalRows: Long): Boolean =
    totalRows >= AutoPackSkewFloor && hotRows * 3L > totalRows

  /** See [[autoPackSkew]]. */
  private[graft] val AutoPackSkewFloor = 10000L

  /** The refresh chain's one run log, driver-held and never persisted:
    * one [[DrainLog.Row]] per non-empty trigger, the fold events of
    * [[runManaged]], and trigger 1's formatted tiers plan — so a drain
    * artifact gates on what a trigger observably did, not on wall time.
    * Filling it adds no Spark job; with no log passed a trigger adds no
    * listener, reads no clock and renders no plan.
    *
    * The fold events record what [[runManaged]]'s serialized fold
    * queue actually did, so an artifact can gate "a fold overran its
    * compaction window and the owed queue deferred-then-drained" on
    * observed events. Event kinds: `point` (a scheduled compaction
    * point, with the in-flight + owed depth at that instant — depth > 0
    * IS an overrun: the previous point's work is still unfinished),
    * `held-place` (a root already queued at its next point — the
    * defer-never-skip rule firing), `begun` / `noop` (a queued cycle
    * started its fold / had no debt), and `finished` /
    * `finished-forced` (completed at a trigger boundary / in the
    * end-of-drain forced loop, with the begin->finish wall). */
  final class DrainLog {
    import DrainLog.{Event, Row}
    import scala.jdk.CollectionConverters._
    private val rowBuf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    private val eventBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[Event]()
    @volatile private var plan: Option[String] = None
    private[RefreshPipeline] def recordRow(r: Row): Unit = {
      rowBuf.add(r); ()
    }
    private[RefreshPipeline] def recordPlan(p: String): Unit = plan = Some(p)
    private[RefreshPipeline] def record(kind: String, root: String,
        batchId: Long, depth: Int = 0, wallS: Double = -1.0,
        tier: Int = -1): Unit = {
      eventBuf.add(Event(kind, root, batchId, depth, wallS, tier)); ()
    }
    /** One row per non-empty trigger, by batch id. */
    def rows: Seq[Row] = rowBuf.asScala.toSeq.sortBy(_.batchId)
    /** Trigger 1's executed tiers plan (the exact-tier filter, the
      * fused near ∪ contam anti join, the branch shapes), formatted —
      * one representative micro-batch, so per-trigger plan claims are
      * artifact-verifiable instead of code-readable. */
    def tiersPlan: Option[String] = plan
    def events: Seq[Event] = eventBuf.asScala.toSeq
    /** Compaction points that arrived while earlier cycles were still
      * in flight or owed — each one is an observed fold overrun. */
    def overruns: Int = events.count(e => e.kind == "point" && e.depth > 0)
    /** Deepest the in-flight + owed backlog ever got at a point. */
    def maxDepth: Int =
      (0 +: events.filter(_.kind == "point").map(_.depth)).max
    def begun: Int = events.count(_.kind == "begun")
    def finished: Int = events.count(_.kind.startsWith("finished"))
    def forcedFinishes: Int = events.count(_.kind == "finished-forced")
    /** Every begun fold was completed — the owed queue drained. */
    def drained: Boolean = begun == finished
  }

  object DrainLog {
    /** The wall of one labelled stage of a trigger and the jobs
      * launched inside it. */
    final case class Stage(wallS: Double, jobs: Int)

    /** One non-empty trigger: its row count; each labelled stage that
      * ran (`exactconfirm`, `exactledger`, `tiers`, `skewprobe`,
      * `shard`, `index`, `ledger`, `bloomadv`); the jobs of the
      * trigger's own job group (a fold's group is not counted) with
      * their tasks and executor seconds, which split the wall into
      * cluster work (task seconds / cores) and driver overhead
      * (planning, scheduling, commit); and the pack route, so an
      * artifact can assert the probe chose skew-robust on exactly the
      * hot triggers.
      *
      * The exact tier's LEDGER cost — the term that grows with
      * accepted history and that the bloom accumulator + prefix-bitmap
      * sidecar exist to floor: how many earlier ledger batches
      * existed, how many leaf paths the confirm read (after any prefix
      * pruning; 0 when the bloom routed no candidate into the
      * confirm), the total BYTES of those paths (the raw O(history)
      * input the flat-wall claim must beat), and the cumulative bloom
      * rebuild count (must stay at 1 over an unbroken drain).
      *
      * `candidates` and `accepted` size the two O(batch) driver
      * collects, so a drain shows how close each trigger comes to
      * [[LedgerSingleFileWarnRows]]. */
    final case class Row(batchId: Long, batchRows: Long,
                         stages: Map[String, Stage], jobs: Int,
                         tasks: Long, taskS: Double, skewRobust: Boolean,
                         earlierBatches: Int, confirmPaths: Int,
                         confirmBytes: Long, bloomRebuilds: Long,
                         candidates: Long, accepted: Long)

    /** `tier` is -1 for generation folds, the resulting run's tier for
      * size-tiered folds — what lets an artifact gate "tier-1 fold
      * walls stay flat as the store grows" per tier instead of mixing
      * a rare top-tier fold into the common case's distribution. */
    final case class Event(kind: String, root: String, batchId: Long,
                           depth: Int, wallS: Double, tier: Int)
  }

  /** Local property naming the [[DrainLog]] stage a job runs in. */
  private val StageKey = "graft.refresh.stage"

  /** One trigger's [[DrainLog]] counts: a listener on the trigger's own
    * context (a second context in the JVM counts too) for the jobs of
    * the group the trigger thread held at entry — the append carrier
    * copies it; a fold's group differs — and per [[staged]] label a
    * wall and a job count. The label is a local property of its own,
    * so the streaming engine's job description is never touched. */
  private final class TriggerTrace(sc: org.apache.spark.SparkContext)
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler.{SparkListenerJobStart,
      SparkListenerTaskEnd}
    private val group = sc.getLocalProperty("spark.jobGroup.id")
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val jobs = new AtomicInteger
    private val tasks = new AtomicLong
    private val taskMs = new AtomicLong
    private val stageJobs = new ConcurrentHashMap[String, AtomicInteger]()
    private val walls = new ConcurrentHashMap[String, Double]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties).getOrElse(new java.util.Properties)
      if (p.getProperty("spark.jobGroup.id") == group) {
        jobs.incrementAndGet()
        j.stageIds.foreach(stageIds.add)
        Option(p.getProperty(StageKey)).foreach(l => stageJobs
          .computeIfAbsent(l, _ => new AtomicInteger).incrementAndGet())
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(t.stageId)) {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m =>
          taskMs.addAndGet(m.executorRunTime))
      }
    /** Time `body` and label its jobs; restores the previous label. */
    def staged[A](label: String)(body: => A): A = {
      val prev = sc.getLocalProperty(StageKey)
      sc.setLocalProperty(StageKey, label)
      val t0 = System.nanoTime()
      try body
      finally {
        walls.put(label, (System.nanoTime() - t0) / 1e9)
        sc.setLocalProperty(StageKey, prev)
      }
    }
    /** Stages, jobs, tasks and task seconds, once the bus has drained. */
    def counts(): (Map[String, DrainLog.Stage], Int, Long, Double) = {
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graftglue.GraftGlue.drainListenerBus(sc)
      (walls.asScala.map { case (l, w) => l -> DrainLog.Stage(w,
          Option(stageJobs.get(l)).fold(0)(_.get)) }.toMap,
        jobs.get, tasks.get, taskMs.get / 1e3)
    }
  }

  /** Where a trigger commits: plain store directories ([[ShardSink]]
    * store, optional [[VectorIndexSink]] dir) or generation-managed
    * [[StoreRoot]] roots. */
  private[graft] sealed trait Stores {
    def index: Option[String]

    /** The shard append, as version `batchId + 1`. Generation-managed
      * targets go through StoreRoot, which adds the cross-generation
      * re-delivery skip (an append at or below the retention floor was
      * folded by a mid-run compaction) on top of the per-generation
      * publishOnce skip. */
    private[RefreshPipeline] def appendShard(sp: SparkSession,
        tokenized: DataFrame, idCol: String, budget: Int,
        shardCol: String, batchId: Long, skewRobust: Boolean): Unit =
      this match {
        case Stores.Roots(r, _) => StoreRoot.appendShard(sp, r, tokenized,
          "__ids", idCol, budget, shardCol, version = batchId + 1,
          skewRobust = skewRobust)
        case Stores.Dirs(d, _) => ShardSink.append(sp, tokenized, "__ids",
          idCol, budget, shardCol, d, version = Some(batchId + 1),
          skewRobust = skewRobust)
      }

    /** The index append, as batch `batchId`; a no-op without an index. */
    private[RefreshPipeline] def appendIndex(sp: SparkSession,
        batchId: Long, cleaned: DataFrame, vecCol: String,
        idCol: String): Unit =
      index.foreach { ix => this match {
        case _: Stores.Roots =>
          StoreRoot.appendVectors(sp, ix, batchId, cleaned, vecCol, idCol)
        case _: Stores.Dirs =>
          VectorIndexSink.appendBatch(sp, ix, batchId, cleaned, vecCol, idCol)
      } }
  }

  private[graft] object Stores {
    final case class Dirs(store: String, index: Option[String])
        extends Stores
    final case class Roots(shard: String, index: Option[String])
        extends Stores
  }

  /** The trigger-invariant prior-side caches every trigger of one drain
    * shares (see [[priorCaches]]), together with the text column and
    * band/gram parameters they were built under — [[processBatch]]
    * reads those from here, so a trigger cannot probe postings or
    * grams built under other parameters. [[release]] frees the
    * checkpoints and the index; the bloom is plain driver state. */
  private[graft] final case class PriorCaches(
      priorFps: DataFrame, postings: DataFrame, refGrams: DataFrame,
      bloom: FingerprintBloom, index: graft.operators.FingerprintIndex,
      textCol: String, numHashes: Int, bands: Int, decontamN: Int) {
    def release(): Unit = {
      import org.apache.spark.sql.graftglue.GraftGlue
      GraftGlue.releaseCheckpoint(priorFps)
      GraftGlue.releaseCheckpoint(postings)
      GraftGlue.releaseCheckpoint(refGrams)
      index.release()
    }
  }

  /** Build the [[PriorCaches]] a drain seeds once per run: exact-tier
    * fingerprints (a plain checkpoint for the bloom-rebuild reference,
    * plus a [[graft.operators.FingerprintIndex]] — range-partitioned
    * sorted long-pair arrays with O(partitions) driver bounds — for the
    * per-trigger stable confirm), near-tier band postings,
    * decontamination reference grams, and the bloom accumulator sized
    * off the fingerprint count. The three branches are mutually
    * independent one-off jobs, so they run OVERLAPPED (guide §2.6) and
    * the prologue pays the longest instead of the sum; the caller
    * calls [[PriorCaches.release]] on exit. */
  private[graft] def priorCaches(prior: DataFrame, benchmark: DataFrame,
                                 textCol: String, numHashes: Int,
                                 bands: Int, decontamN: Int)
      : PriorCaches = {
    val shufflePartitions = prior.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val ec = scala.concurrent.ExecutionContext.global
    // the postings cache DECLARES its band-key layout: without it every
    // trigger's band join re-exchanges (or re-broadcasts) the
    // CORPUS-scale postings side — the same per-trigger O(corpus) class
    // the exact tier's staged confirm removed; with it only the batch
    // side of the near tier shuffles
    val postingsF = scala.concurrent.Future(
      org.apache.spark.sql.graftglue.GraftGlue.checkpointWithLayout(
        Dedup.nearPostings(prior, textCol,
          numHashes = numHashes, bands = bands, mode = Dedup.Portable),
        "__pband", prior.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt))(ec)
    val refGramsF = scala.concurrent.Future(
      Dedup.ngramRefGrams(benchmark, textCol, n = decontamN)
        .localCheckpoint(true))(ec)
    val priorFps = Dedup.exactFingerprints(prior, textCol)
      .localCheckpoint(true)
    val fpIndex = graft.operators.FingerprintIndex
      .build(priorFps, shufflePartitions)
    val postings = scala.concurrent.Await.result(postingsF,
      scala.concurrent.duration.Duration.Inf)
    val refGrams = scala.concurrent.Await.result(refGramsF,
      scala.concurrent.duration.Duration.Inf)
    // index bounds already carry the count — no extra count job
    // capacity: the prior corpus plus generous accepted-history
    // headroom (overflow degrades fpp, never exactness)
    val bloom = new FingerprintBloom(fpp = 0.01,
      capacity = 2L * math.max(fpIndex.count, 1L) + 100000L)
    PriorCaches(priorFps, postings, refGrams, bloom, fpIndex,
      textCol, numHashes, bands, decontamN)
  }

  /** Swap the streaming state-store provider to `providerClass` (when
    * given) and return the restore of the previous value. The session
    * conf is read at query START, so set-before / restore-after scopes
    * the provider to one drain. */
  private def swapStateStoreProvider(sp: SparkSession,
      providerClass: Option[String]): () => Unit = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val providerPrev = sp.conf.getOption(providerKey)
    providerClass.foreach(sp.conf.set(providerKey, _))
    () => if (providerClass.isDefined) providerPrev match {
      case Some(p) => sp.conf.set(providerKey, p)
      case None => sp.conf.unset(providerKey)
    }
  }

  /** One daemon carrier for the per-trigger index append so it overlaps
    * the shard append (see the publish site in [[processBatch]]): the
    * two stores' appends are independent until the ledger, and a
    * trigger is on the drain's critical path, so overlapping their
    * driver/planning latency is free wall time. Single thread — only
    * ever one trigger in flight (foreachBatch serializes), and the
    * shard side rides the trigger's own thread. */
  private lazy val appendPool =
    java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-index-append")
        t.setDaemon(true)
        t
      })

  /** Run `body` on [[appendPool]] with the calling thread's Spark-local
    * properties (job group, cancel-on-interrupt, description, pool)
    * mirrored onto the carrier, so its jobs cancel with the SAME group
    * a serial execution would have used — the pool thread otherwise
    * keeps whatever it inherited at creation. */
  private def onAppendCarrier[A](sp: SparkSession)(body: => A)
      : java.util.concurrent.Future[A] = {
    val mirrored = Seq("spark.jobGroup.id",
        "spark.job.interruptOnCancel", "spark.job.description",
        "spark.scheduler.pool")
      .map(k => k -> sp.sparkContext.getLocalProperty(k))
    appendPool.submit(new java.util.concurrent.Callable[A] {
      override def call(): A = {
        mirrored.foreach { case (k, v) =>
          sp.sparkContext.setLocalProperty(k, v) }
        body
      }
    })
  }

  /** Fingerprint-count threshold above which the single-task ledger
    * batch write warns (see the publish site in [[processBatch]]): 10M
    * 16-byte fingerprints ≈ 160 MB through one task — still well
    * inside one executor, but a batch that size is a backfill wearing
    * a trigger's clothes. */
  private[graft] val LedgerSingleFileWarnRows = 10000000L

  /** Fingerprint-prefix space for the ledger's prune metadata: each
    * batch dir carries a [[PrefixMarker]] sidecar holding the 64-bit
    * BITMAP of `pmod(xxhash64(__pfp), 64)` prefixes its fingerprints
    * occupy, and a trigger's confirm join skips WHOLE batches provably
    * disjoint from its bloom-positive candidates' prefix set.
    *
    * Why a bitmap sidecar and not a `partitionBy` layout: this term
    * only prunes when the candidate set is SMALLER than the prefix
    * space — at realistic batch sizes (20k+ rows, candidates = fpp x
    * batch + true dups) every prefix is occupied on both sides and NO
    * layout can reduce the bytes read, while a 64-way partitioned
    * write multiplies the history's FILE count 64x and with it every
    * later trigger's open/footer overhead (measured: 24-trigger drain
    * 189 s -> 270 s, flatness 1.15 -> 1.43 — REFRESH_SLOPE.json's
    * partitioned_ledger_regression block). The sidecar is free at
    * write (one 16-char marker), free at read (one marker per batch),
    * prunes exactly the batches information theory allows, and keeps
    * one parquet file per batch. */
  private[graft] val LedgerPrefixSpace = 64

  /** Sidecar marker name: `bits=<16-hex-char bitmap>`. */
  private[graft] val PrefixMarker = "_graft_prefixes"

  /** Every ledger batch layout's one column. Reading with it declared
    * runs no parquet schema-inference job. */
  private val LedgerSchema = StructType(Seq(StructField("__pfp", StringType)))

  /** Paths of the given ledger batch dirs, pruned to those whose
    * prefix bitmap intersects `prefixes` when given (None = all — the
    * bloom-rebuild reference must cover everything). Legacy layouts
    * degrade safely: a round-13.0 `__pp=K`-partitioned batch prunes at
    * the partition level; a batch with neither marker nor partitions
    * is always included whole. Pruning only ever skips data PROVEN
    * disjoint from the candidates. */
  private[graft] def ledgerLeafPaths(dirs: Seq[java.io.File],
      prefixes: Option[Set[Int]]): Seq[String] =
    dirs.flatMap { d =>
      val pp = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("__pp=")
          && f.getName.stripPrefix("__pp=").matches("\\d+"))
      if (pp.nonEmpty) {
        val keep = prefixes.fold(pp)(ks => pp.filter(f =>
          ks.contains(f.getName.stripPrefix("__pp=").toInt)))
        keep.map(_.getAbsolutePath).toSeq
      } else {
        val bits = StoreFiles
          .readMarker(new java.io.File(d, PrefixMarker))
          .flatMap(_.get("bits"))
          .map(h => java.lang.Long.parseUnsignedLong(h, 16))
        val hit = (prefixes, bits) match {
          case (Some(ks), Some(b)) => ks.exists(k =>
            // range-guarded: JVM shifts are mod-64, so an out-of-range
            // k would alias a real bit instead of matching nothing
            k >= 0 && k < LedgerPrefixSpace && (b >>> k & 1L) == 1L)
          case _ => true // no candidate set or no marker: keep whole
        }
        if (hit) Seq(d.getAbsolutePath) else Seq.empty
      }
    }

  /** One trigger's work, factored out so the delivery contract is
    * directly testable: compute the accepted docs against prior ∪
    * ledger-batches-below-`batchId`, commit the shard append (version
    * `batchId + 1`), optionally the index append (batch `batchId`),
    * then publish this trigger's ledger batch and fold its accepted
    * fingerprints into `caches.bloom`. Every tier reads `caches`: the
    * exact tier probes the held bloom on the batch checkpoint's own job
    * and confirms only its candidates, against `caches.index` and the
    * prefix-pruned earlier ledger batches; the near and decontamination
    * tiers probe `caches.postings` and `caches.refGrams`. Idempotent
    * under re-delivery by construction. With `log` given, a non-empty
    * trigger that completes records its [[DrainLog.Row]]. */
  private[graft] def processBatch(
      batch: DataFrame, batchId: Long, caches: PriorCaches,
      stores: Stores, ledgerDir: String, budget: Int, shardCol: String,
      idCol: String, threshold: Double, minMatches: Int, vecCol: String,
      packSkew: Option[Boolean] = None,
      log: Option[DrainLog] = None): Unit = {
    import org.apache.spark.sql.graftglue.GraftGlue
    val sp = batch.sparkSession
    val textCol = caches.textCol
    val trace = log.map { _ =>
      val t = new TriggerTrace(sp.sparkContext)
      sp.sparkContext.addSparkListener(t)
      t
    }
    def staged[A](label: String)(body: => A): A =
      trace.fold(body)(_.staged(label)(body))
    try {
    // materialize the trigger's batch ONCE: the tiers below reference
    // it through several plan branches (the exact, near and
    // decontamination tiers each read it), and each un-materialized
    // branch re-executes the WHOLE upstream batch plan — ruinous when
    // the upstream is itself stateful (q173 routes a stream-stream join
    // into this chain: every re-run replays the join's state stores;
    // measured 71 s -> join-plus-chain cost once materialized)
    // the exact-tier reference: cached prior fingerprints plus the
    // (tiny) ledger batches of STRICTLY EARLIER triggers — never this
    // trigger's own (see the delivery contract above). Listed BEFORE
    // the batch checkpoint (driver-side file listing, no jobs) so the
    // bloom resolves first and the candidate pass rides the checkpoint
    // job itself.
    val earlier = StoreFiles
      .publishedDirs(ledgerDir, "b", StoreFiles.hasLedgerParquet)
      .filter(_._1 < batchId).map(_._2)
    val fpCol = graft.functions.TextFunctions.fingerprint(col(textCol))
    // resolve the bloom now (bloomFor touches only the prior caches and
    // the ledger — never the batch; a first-trigger rebuild runs here
    // instead of after the checkpoint, same total work) and OBSERVE the
    // row count plus the bloom-positive candidate (fingerprint,
    // ledger-prefix) pairs on the checkpoint's own materialization job
    // — the candidate pass, the empty-trigger probe, and the prefix-set
    // job all collapse into metrics on a job the trigger already pays
    // for. The rebuild reference is prior ∪ every earlier ledger batch
    // (a multi-path read of leaf paths, so mixed legacy and
    // prefix-partitioned batch layouts share one __pfp-only schema),
    // scanned on a sequence break only.
    val rebuildRef = ledgerLeafPaths(earlier, None) match {
      case Seq() => caches.priorFps
      case paths => caches.priorFps.unionByName(
        sp.read.schema(LedgerSchema).parquet(paths: _*))
    }
    val candObs = org.apache.spark.sql.Observation(s"cands-b$batchId")
    val probe = GraftGlue.column(graft.functions.BloomMightContainExpr(
      GraftGlue.expression(fpCol),
      caches.bloom.bloomFor(batchId, rebuildRef)))
    val b0 = batch.observe(candObs,
        count(lit(1)).as("__n"),
        // collect_list drops the nulls the when() leaves for
        // non-candidates; bounded by the micro-batch contract
        // (fpp x batch + true dups)
        collect_list(when(fpCol.isNotNull && probe,
          struct(fpCol.as("__fp"), pmod(xxhash64(fpCol),
            lit(LedgerPrefixSpace.toLong)).cast("int").as("__pp"))))
          .as("__cands"))
      .localCheckpoint(true)
    try {
    // an EMPTY trigger commits nothing. A composed event-time upstream
    // (q173's stream-stream join) appends a watermark-flush no-data
    // batch after the last data trigger; running the chain + both
    // store appends on zero rows would cost a full trigger's fixed
    // overhead to write empty deltas. Skipping is safe by the keying
    // discipline: versions/deltas/ledger batches are batchId-keyed,
    // so the gap reads as "nothing arrived" to every verb (read,
    // asOf, describe, compact) and to later triggers' ledger scans.
    // (The bloom sequence still advances: an empty trigger adds no
    // fingerprints, and skipping the advance would force the next
    // trigger into a needless rebuild. The observed count makes the
    // probe free.)
    val batchRows = candObs.get("__n").asInstanceOf[Long]
    if (batchRows == 0L) {
      caches.bloom.advanceWith(batchId, Array.empty); return
    }
    // the exact tier's confirm: the bloom-positive sliver is collected
    // (bounded by the micro-batch contract — fpp x batch + true dups),
    // routed to the index's range partitions via O(partitions) driver
    // bounds, and only partitions HOLDING a candidate are launched,
    // each a binary search: O(candidates x log corpus) per trigger,
    // flat in the corpus (an anti join against the corpus-sized
    // fingerprint cache would scan essentially all of it per trigger).
    // Membership is exact (full 128-bit fingerprints); the ledger
    // confirm reads only the batches whose prefix bitmaps meet the
    // candidates' prefixes, computed inside the SAME collect.
    val candRows = candObs.get("__cands")
      .asInstanceOf[Seq[_]].map(_.asInstanceOf[org.apache.spark.sql.Row])
    val cands = candRows.map(_.getString(0)).toArray
    val prefixes = candRows.map(_.getInt(1)).toSet
    // a confirm-side match has an EQUAL fingerprint, hence an equal
    // prefix — pruned ledger batches are provably match-free
    val confirmPaths: Seq[String] =
      if (cands.isEmpty || earlier.isEmpty) Seq.empty
      else ledgerLeafPaths(earlier, Some(prefixes))
    // the two confirm lookups are independent given the candidate set
    // (stable index vs ledger paths) — overlap them on the append
    // carrier (guide §2.6; free before the appends start)
    val ledgerHitsF: java.util.concurrent.Future[Array[String]] =
      if (confirmPaths.isEmpty)
        java.util.concurrent.CompletableFuture.completedFuture(
          Array.empty[String])
      else onAppendCarrier(sp) { staged("exactledger") {
        val keys = graft.functions.Utf8SortedKeys.sorted(cands)
        val pfp = sp.read.schema(LedgerSchema).parquet(confirmPaths: _*)
        pfp.filter(GraftGlue.column(
            graft.functions.Utf8InSortedArrayExpr(
              GraftGlue.expression(pfp("__pfp")), keys)))
          .collect().map(_.getString(0))
      } }
    val stableHits: Array[String] =
      if (cands.isEmpty) Array.empty
      else staged("exactconfirm") { caches.index.hits(cands) }
    val ledgerHits: Array[String] =
      try ledgerHitsF.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
    val allHits = stableHits ++ ledgerHits
    val exactKept =
      if (allHits.isEmpty) Dedup.exact(b0, textCol, idCol)
      else {
        // drop = fingerprint CONFIRMED present in stable ∪ earlier
        // ledger; null fingerprints always pass (null-text rows are
        // per-id unique, the batch chain's rule). One row-local
        // binary-search filter — no join, no exchange.
        val hitKeys = graft.functions.Utf8SortedKeys.sorted(allHits)
        val kept = b0.filter(fpCol.isNull || !GraftGlue.column(
          graft.functions.Utf8InSortedArrayExpr(
            GraftGlue.expression(fpCol), hitKeys)))
        Dedup.exact(kept, textCol, idCol)
      }
    // the near tier and the decontamination tier are PER-ROW decisions
    // against FIXED references (prior postings / benchmark grams) — a
    // row's fate never depends on in-batch peers or on the other
    // tiers' outcomes — so their id sets are computed as independent
    // plan branches off the checkpointed batch and anti-joined onto
    // the exact tier's survivors. Chaining them as whole-batch filters
    // (the previous shape) serialized their shuffles on the trigger's
    // critical path; as siblings, AQE materializes the exact-confirm,
    // near-hit and gram-match stages concurrently. Output identical by
    // the per-row-independence argument on each exposed id set.
    // The two id sets feed ONE anti join (drop ids in near ∪ contam ==
    // drop ids in either — set semantics on the anti join's build
    // side): the branches still materialize concurrently under the
    // union, and the survivors pay one probe-side exchange + join stage
    // instead of two.
    val nearHits = Dedup.nearIncrementalHitIds(b0, textCol, idCol,
      numHashes = caches.numHashes, bands = caches.bands,
      threshold = threshold, mode = Dedup.Portable,
      postings = caches.postings)
    val contamIds = Dedup.ngramContaminatedIds(b0, caches.refGrams,
      textCol, idCol, n = caches.decontamN, minMatches = minMatches)
    val dropIds = nearHits.select(col("__bid").as("__xid"))
      .unionByName(contamIds.select(col("__mid").as("__xid")))
    // the skew probe's inputs (total rows + per-shard counts of the
    // accepted set) ride the tiers checkpoint as observed metrics —
    // shard keys as xxhash64 (null-safe: a NULL shard hashes to the
    // seed, so it counts as its own group exactly as groupBy treats
    // it) — replacing the probe's own aggregation job per trigger.
    // Collision risk only ever mis-ROUTES the pack strategy (outputs
    // are bit-identical either way, the spec-pinned property).
    val obTiers = org.apache.spark.sql.Observation(s"skew-b$batchId")
    val joined = exactKept
      .join(dropIds, col(idCol) === col("__xid"), "left_anti")
    val tiers =
      if (packSkew.isEmpty)
        joined.observe(obTiers, count(lit(1)).as("__t"),
          collect_list(xxhash64(col(shardCol))).as("__sh"))
      else joined
    val cleaned = staged("tiers") { tiers.localCheckpoint(true) }
    // the executed tiers plan of ONE representative micro-batch (see
    // DrainLog.tiersPlan), rendered outside the timed stage
    if (batchId == 1L)
      log.foreach(_.recordPlan(tiers.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))))
    try {
      val tokenized = cleaned.withColumn("__ids",
        Bpe.byteTokenIds(col(textCol), BpeByteVocab.merges))
      // the skew-robust pack decision, made WHERE the batch is already
      // materialized: an explicit packSkew wins; otherwise one narrow
      // two-level aggregation over the checkpointed batch (count per
      // shard -> max/total, one bounded-collect row) routes a trigger
      // whose accepted docs concentrate in one shard (the Zipfian
      // crawl-drop shape) through packTokenIdsSkewRobust — the 6.5x
      // mitigation SKEW_SCALE measured, applied by the flagship chain
      // automatically (gated by the measured crossover, see
      // autoPackSkew)
      val skewRobust = packSkew.getOrElse { staged("skewprobe") {
        // max/total reduced on the driver from the metrics the tiers
        // checkpoint already observed — zero jobs (was one aggregation
        // shuffle + collect per trigger)
        val m = obTiers.get
        val total = m("__t").asInstanceOf[Long]
        val hashes = m("__sh").asInstanceOf[Seq[_]]
          .map(_.asInstanceOf[Long])
        val hot =
          if (hashes.isEmpty) 0L
          else hashes.groupBy(identity).valuesIterator
            .map(_.size.toLong).max
        autoPackSkew(hotRows = hot, totalRows = total)
      } }
      def shardAppend(): Unit = staged("shard") {
        stores.appendShard(sp, tokenized, idCol, budget, shardCol, batchId,
          skewRobust)
      }
      def indexAppend(): Unit = staged("index") {
        stores.appendIndex(sp, batchId, cleaned, vecCol, idCol)
      }
      // the two store appends are independent of each other (both read
      // only the checkpointed `cleaned`/`tokenized`; idempotence and
      // crash healing hold per store) and only the LEDGER must come
      // after both — so on the cross-store shape they run overlapped
      // (guide §2.6: the second append's jobs back-fill the first's
      // scheduling gaps; each trigger's appends are small by the
      // micro-batch contract, so this overlaps driver/planning latency,
      // not executor capacity)
      if (stores.index.isDefined) {
        val second = onAppendCarrier(sp)(indexAppend())
        // always JOIN the index side before leaving the trigger (no
        // append may outlive its trigger); the first failure wins and
        // is rethrown with its ORIGINAL type (unwrapping the
        // ExecutionException) so loud-failure contracts keep their
        // exception classes
        var primary: Throwable = null
        try shardAppend() catch { case t: Throwable => primary = t }
        try second.get()
        catch {
          // when BOTH sides failed, the index side's exception must not
          // vanish — attach it to the winner as suppressed
          case e: java.util.concurrent.ExecutionException =>
            if (primary == null) primary = e.getCause
            else primary.addSuppressed(e.getCause)
          case t: Throwable =>
            if (primary == null) primary = t
            else primary.addSuppressed(t)
        }
        if (primary != null) throw primary
      } else shardAppend()
      // the ledger publish is LAST: only after every store this
      // trigger feeds has committed may its fingerprints become
      // visible — and even then only to LATER triggers
      val acceptedFps = cleaned.select(
          graft.functions.TextFunctions.fingerprint(col(textCol))
            .as("__pfp"))
        .filter(col("__pfp").isNotNull)
      var acceptedArr: Array[String] = null // observed by the write job
      staged("ledger") { StoreFiles.publishOnce(
        s"$ledgerDir/.staging-b$batchId",
        new java.io.File(s"$ledgerDir/b$batchId"), { staging =>
          // ONE file per batch (the fingerprint frame is tiny) plus
          // the prefix-bitmap sidecar the confirm read prunes on —
          // written INSIDE the staging dir so the rename publishes
          // both atomically; underscore-prefixed, so the parquet
          // reader never sees it (see LedgerPrefixSpace).
          // SCALE ASSUMPTION, explicit: repartition(1) is a
          // single-task write whose ceiling is the largest accepted
          // batch — correct because triggers are MICRO-batches by
          // contract (a compact fingerprint column over one crawl
          // drop), and required by the one-file-per-batch pruning
          // design. A backfill routed through this path as one giant
          // trigger violates that contract; warn loudly past the
          // threshold instead of silently serializing the write.
          // the prefix bitmap and row count ride the WRITE job as
          // observed metrics — the separate aggregate-and-collect job
          // this replaced was one more per-trigger driver round-trip
          // over the same rows
          // the accepted fingerprints themselves ride along too (the
          // same micro-batch-bounded rows the single-task write already
          // funnels), so the bloom advance below needs NO job at all
          val ob = org.apache.spark.sql.Observation(s"ledger-b$batchId")
          acceptedFps.observe(ob,
              coalesce(bit_or(expr(s"shiftleft(1L, int(pmod(" +
                s"xxhash64(__pfp), $LedgerPrefixSpace)))")), lit(0L))
                .as("__bits"),
              count(lit(1)).as("__n"),
              collect_list(col("__pfp")).as("__fps"))
            .repartition(1)
            .write.mode("overwrite").parquet(staging)
          val agg = ob.get
          val bitmap = agg("__bits").asInstanceOf[Long]
          val acceptedN = agg("__n").asInstanceOf[Long]
          acceptedArr = agg("__fps").asInstanceOf[Seq[_]]
            .map(_.asInstanceOf[String]).toArray
          if (acceptedN > LedgerSingleFileWarnRows)
            System.err.println(s"[graft] WARN ledger batch b$batchId " +
              s"holds ${agg("__n")} fingerprints (> " +
              s"$LedgerSingleFileWarnRows): the one-file-per-batch " +
              "ledger write is single-task by design for micro-batch " +
              "triggers - route backfills through the batch chain, " +
              "not one giant trigger")
          StoreFiles.writeMarker(
            new java.io.File(staging, PrefixMarker),
            Seq(f"bits=$bitmap%016x"))
        }) }
      // merge AFTER the ledger publish: a trigger that fails anywhere
      // above leaves the bloom at its pre-trigger state, so the retry
      // references exactly prior ∪ earlier batches again
      val accepted = staged("bloomadv") {
        // the ledger write already OBSERVED the accepted fingerprints —
        // fold them into the held bloom driver-side (putString: zero
        // jobs, zero capacity-sized allocation; the DataFrame merge
        // built a second corpus-capacity filter per trigger just to OR
        // a few hundred members in). Only a SKIPPED publish
        // (re-delivered trigger, nothing observed) still pays one
        // bounded collect of the same micro-batch-contract rows.
        val arr =
          if (acceptedArr != null) acceptedArr
          else acceptedFps.collect().map(_.getString(0))
        caches.bloom.advanceWith(batchId, arr)
        arr.length
      }
      for (l <- log; t <- trace) {
        val (stages, jobs, tasks, taskS) = t.counts()
        l.recordRow(DrainLog.Row(batchId, batchRows, stages, jobs, tasks,
          taskS, skewRobust, earlier.size, confirmPaths.size,
          confirmPaths.map(p =>
            StoreFiles.listing(new java.io.File(p)).map(_._2).sum).sum,
          caches.bloom.rebuilds, cands.length.toLong, accepted.toLong))
      }
    } finally
      org.apache.spark.sql.graftglue.GraftGlue
        .releaseCheckpoint(cleaned)
    } finally
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(b0)
    } finally trace.foreach(sp.sparkContext.removeSparkListener)
  }

  /** Drive a document stream (idCol, shardCol, textCol at minimum)
    * through the refresh chain into `storeDir`. The caller seeds the
    * store's `v0` with the prior corpus pack (so appends extend it) and
    * passes the same `prior`/`benchmark` frames the batch chain would
    * use. With `indexDir` set (the cross-store shape), the docs must
    * also carry `vecCol` and the caller seeds the index base with the
    * prior corpus' vectors (ivfPqBuild + ivfPqSave); each trigger then
    * appends its accepted docs' embeddings under the frozen codebooks.
    * Blocks until the AvailableNow drain completes.
    *
    * `packSkew`: None (default) auto-probes each trigger's accepted
    * shard distribution and routes a Zipfian batch through the
    * skew-robust pack (see [[autoPackSkew]] — bit-identical store
    * either way); Some(b) forces the choice. `providerClass` swaps the
    * streaming state-store provider for the run (e.g. RocksDB — only
    * meaningful when `docs` composes stateful operators upstream, as
    * q173's stream-stream join does) and restores the previous value
    * on exit. `log`, when given, receives one [[DrainLog.Row]] per
    * non-empty trigger. */
  def run(docs: DataFrame, prior: DataFrame, benchmark: DataFrame,
          storeDir: String, ledgerDir: String, checkpointDir: String,
          budget: Int = 2048, shardCol: String = "source",
          idCol: String = "doc_id", textCol: String = "text",
          numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8,
          decontamN: Int = 5, minMatches: Int = 2,
          indexDir: Option[String] = None,
          vecCol: String = "embedding",
          packSkew: Option[Boolean] = None,
          providerClass: Option[String] = None,
          log: Option[DrainLog] = None): Unit = {
    // every prior-side derivation is trigger-invariant (the
    // incremental contract references the kept corpus only), so all
    // are computed ONCE here and cached across every trigger — without
    // this, re-deriving the prior's fingerprints / minhash postings /
    // reference grams dominates each micro-batch at corpus scale
    val caches =
      priorCaches(prior, benchmark, textCol, numHashes, bands, decontamN)
    val restoreProvider =
      swapStateStoreProvider(prior.sparkSession, providerClass)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = docs.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          processBatch(batch, batchId, caches,
            Stores.Dirs(storeDir, indexDir), ledgerDir, budget, shardCol,
            idCol, threshold, minMatches, vecCol, packSkew, log)
        }
        .start()
      q.awaitTermination()
    } finally {
      // if awaitTermination exited via interrupt/timeout the query is
      // still RUNNING and its foreachBatch thread still uses the cached
      // frames released below — stop it first (best-effort, never over
      // the original failure) so the releases cannot race a live trigger
      if (q != null) try q.stop() catch { case _: Throwable => () }
      restoreProvider()
      caches.release()
    }
  }

  /** [[run]] against GENERATION-MANAGED store roots ([[StoreRoot]]),
    * with compaction ON SCHEDULE inside the drain: every
    * `compactEvery` triggers, after the trigger's commits and ledger
    * publish, each root's fold is STARTED out-of-band
    * ([[StoreRoot.beginCompactShard]]/[[StoreRoot.beginCompactVectors]]
    * — a background thread folding the generation's immutable committed
    * versions while later triggers keep appending), and COMPLETED at
    * the first trigger boundary after the fold finishes writing
    * ([[StoreRoot.finishCompact]]: O(late-deltas) top-up + manifest
    * swap + retire — the only compaction work that ever sits on the
    * drain's critical path; any fold still in flight when the drain
    * ends is completed before this returns). The fold itself is
    * O(current store) (see [[ShardSink.compact]]'s cost model), which
    * is exactly why it must not run inline: measured inline it spiked
    * fold triggers to 2-3x the steady-state trigger wall, growing with
    * store lifetime. Folds are serialized (one in flight across both
    * roots — two concurrent background folds measurably doubled the
    * overlapped trigger's wall) and a compaction point that arrives
    * while a fold is still writing QUEUES its cycle — never stalls on
    * it — to begin when the in-flight fold completes. This is the
    * maintenance
    * loop a long-running deployment needs, running inside the pipeline
    * instead of as a hand-driven sidecar. The caller seeds generation
    * 0 of each root ([[StoreRoot.init]] then the usual v0 pack /
    * ivfPqSave) and READS through the root afterwards.
    *
    * Delivery semantics compose with the managed layer's: a trigger
    * re-delivered across its own compaction finds its appends at or
    * below the new retention floor and skips them
    * ([[StoreRoot.appendShard]]/[[StoreRoot.appendVectors]]); a crash
    * inside the compaction itself is healed by the next
    * [[StoreRoot.compactShard]]/[[StoreRoot.compactVectors]] (resume
    * a committed fold, redo a partial one, retire a swapped-but-
    * unretired predecessor); and a re-delivered compaction trigger
    * whose fold already swapped finds nothing to fold and no-ops.
    * The fingerprint ledger is NOT compacted — it is the exact tier's
    * reference history (compact fingerprints, never payloads) and
    * every batch of it stays load-bearing.
    *
    * `tierFanout = Some(k)` switches the compaction points from
    * GENERATION folds to SIZE-TIERED folds
    * ([[StoreRoot.beginCompactShardTiered]]/
    * [[StoreRoot.beginCompactVectorsTiered]]): each cycle folds the
    * oldest k same-tier units into one run — O(one tier) per cycle
    * instead of O(current store) — through the same serialized
    * owed-queue, the same begin/finish split, and the same crash
    * windows. This is the long-horizon shape: generation folds
    * rewrite the whole store every cycle and their walls grow with
    * store lifetime; tier folds keep the common (tier-1) cycle's work
    * pinned at k micro-batch deltas no matter how large the store
    * gets, escalating to a higher tier only every k-th cycle.
    *
    * `log`, when given, receives the trigger rows as in [[run]] plus
    * every fold event of the queue. */
  def runManaged(docs: DataFrame, prior: DataFrame, benchmark: DataFrame,
                 shardRoot: String, ledgerDir: String,
                 checkpointDir: String, compactEvery: Int,
                 budget: Int = 2048, shardCol: String = "source",
                 idCol: String = "doc_id", textCol: String = "text",
                 numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.8, decontamN: Int = 5,
                 minMatches: Int = 2, indexRoot: Option[String] = None,
                 vecCol: String = "embedding",
                 packSkew: Option[Boolean] = None,
                 providerClass: Option[String] = None,
                 tierFanout: Option[Int] = None,
                 log: Option[DrainLog] = None): Unit = {
    require(compactEvery >= 1,
      s"compactEvery must be >= 1: $compactEvery")
    require(tierFanout.forall(_ >= 2),
      s"tierFanout must be >= 2: $tierFanout")
    val caches =
      priorCaches(prior, benchmark, textCol, numHashes, bands, decontamN)
    val restoreProvider =
      swapStateStoreProvider(prior.sparkSession, providerClass)
    // out-of-band fold bookkeeping, mutated only from the foreachBatch
    // thread (triggers run sequentially) and read after
    // awaitTermination on the caller's thread — the query's
    // termination is the happens-before edge between them. Folds are
    // SERIALIZED: at most one in flight across both roots, the rest
    // queued in `owed` and begun as their predecessors complete.
    // Measured reason: a compaction point used to begin the shard AND
    // index folds together, and the two background folds' combined
    // task demand doubled the overlapped trigger's wall under a FAIR
    // 50/50 split (max/median 2.19 on a 48-trigger drain); one fold
    // at a time halves the concurrent soak, and a fold that overruns
    // its window simply queues its successor instead of stacking.
    val pending = scala.collection.mutable.Map.empty[String, StoreRoot.Fold]
    val owed = scala.collection.mutable.Queue
      .empty[(String, () => Option[StoreRoot.Fold])]
    val foldT0 = scala.collection.mutable.Map.empty[String, Long]
    // complete folds at a quiescent trigger boundary: every finished
    // fold eagerly (the cheap top-up + swap + retire), every fold when
    // forced (drain end — block on the fold thread, then complete)
    def finishReady(force: Boolean): Unit =
      pending.keys.toSeq.foreach { r =>
        if (force || pending(r).isDone) {
          val tier = pending(r).tier
          StoreRoot.finishCompact(pending(r))
          log.foreach(_.record(
            if (force) "finished-forced" else "finished", r, -1L,
            wallS = (System.nanoTime() - foldT0(r)) / 1e9, tier = tier))
          pending.remove(r); ()
        }
      }
    // begin queued folds while no fold is in flight (a begin may no-op
    // when the root has no debt — keep draining the queue)
    def beginNextOwed(): Unit =
      while (pending.isEmpty && owed.nonEmpty) {
        val (r, begin) = owed.dequeue()
        begin() match {
          case Some(f) =>
            pending(r) = f
            foldT0(r) = System.nanoTime()
            log.foreach(_.record("begun", r, -1L, tier = f.tier))
          case None =>
            log.foreach(_.record("noop", r, -1L))
        }
      }
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = docs.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          processBatch(batch, batchId, caches,
            Stores.Roots(shardRoot, indexRoot), ledgerDir, budget, shardCol,
            idCol, threshold, minMatches, vecCol, packSkew, log)
          finishReady(force = false)
          if ((batchId + 1) % compactEvery == 0) {
            // depth > 0 at a scheduled point = the previous point's
            // cycles are still in flight or owed — an observed fold
            // OVERRUN (the queue defers them, never skips)
            log.foreach(_.record("point", "", batchId,
              depth = pending.size + owed.size))
            // one owed entry per root per compaction point (a root
            // already queued keeps its place; a root mid-fold gets its
            // NEXT fold queued so an overrunning cycle defers, never
            // skips, its successor)
            if (!owed.exists(_._1 == shardRoot))
              owed.enqueue((shardRoot, () => tierFanout match {
                // tiered mode: fold ONE tier's units into a run —
                // O(one tier) per cycle — instead of the whole
                // generation; same begin/finish split, same queue
                case Some(k) => StoreRoot.beginCompactShardTiered(sp,
                  shardRoot, shardCol, fanout = k)
                case None => StoreRoot.beginCompactShard(sp, shardRoot,
                  shardCol)
              }))
            else log.foreach(_.record("held-place", shardRoot,
              batchId))
            indexRoot.foreach { r =>
              if (!owed.exists(_._1 == r))
                owed.enqueue((r, () => tierFanout match {
                  case Some(k) =>
                    StoreRoot.beginCompactVectorsTiered(sp, r,
                      fanout = k)
                  case None => StoreRoot.beginCompactVectors(sp, r)
                }))
              else log.foreach(_.record("held-place", r, batchId))
            }
          }
          beginNextOwed()
        }
        .start()
      q.awaitTermination()
      // drain end: complete the in-flight fold, then run every owed
      // cycle to completion — the drain never exits with debt it was
      // scheduled to fold
      while (pending.nonEmpty || owed.nonEmpty) {
        finishReady(force = true)
        beginNextOwed()
      }
    } finally {
      // abort path: no fold may outlive the drain that began it. If
      // awaitTermination exited via interrupt/timeout the query is
      // still RUNNING and its foreachBatch thread concurrently mutates
      // `pending`/`owed` — stop it FIRST (best-effort, never over the
      // original failure) to restore the happens-before edge; without
      // this the sweep below could throw ConcurrentModificationException
      // (masking the original failure and skipping the conf restore and
      // checkpoint releases), and a fold begun after the sweep would
      // still orphan.
      if (q != null) try q.stop() catch { case _: Throwable => () }
      // On success `pending` is already drained (above); if the query or
      // an eager finishCompact threw, cancel the fold's job group and
      // join its thread (Fold.abandon — bounded, interrupt-safe, never
      // throws over the original failure) so a same-process retry's
      // begin() sweep cannot race an orphaned writer on the next
      // generation directory. Per-fold isolation so one abandon
      // problem cannot skip the rest or the conf/checkpoint cleanup.
      pending.values.foreach { f =>
        try f.abandon() catch { case _: Throwable => () }
      }
      pending.clear()
      restoreProvider()
      caches.release()
    }
  }
}
