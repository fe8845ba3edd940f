package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.StagedDrops
import graft.functions.{Bpe, BpeByteVocab}
import graft.operators.Dedup
import graft.streaming.{RefreshPipeline, ShardSink, VectorIndexSink}

/** Once-per-round refresh-chain scale-evidence run — the ANN_SCALE /
  * SHARD_SCALE / STREAMJOIN_SCALE discipline applied to the FLAGSHIP
  * composition. q168/q170 prove the streamed weekly refresh CORRECT at
  * fixture scale (~600 new docs/trigger); this main drives the complete
  * cross-store chain — exact-incremental dedup against prior ∪ ledger,
  * near-dedup against the prior corpus, n-gram decontamination, byte-BPE
  * tokenize, shard-store append AND vector-index append per trigger —
  * over hundreds of thousands of synthetic documents, with every
  * correctness contract verified IN-RUN at that scale, and writes
  * REFRESH_SCALE.json, the committed artifact SURVEY quotes.
  *
  * Corpus: deterministic, seeded by ids alone (reproduces bit-for-bit).
  * Every document is 30 pseudo-random 8-hex-char words derived from its
  * IDENTITY string (md5 slices — unrelated identities share no 5-gram
  * and no shingle, so cross-class interference is impossible). Stream
  * doc u (of N = triggers x batchRows, doc_id = prior + u) draws its
  * class from u % 20:
  *  - 0  EXACT_PRIOR:  identity of prior doc (u/20 % prior) — byte-equal
  *    text, dropped by the exact tier against the cached prior
  *    fingerprints;
  *  - 1  EXACT_STREAM: identity s(u % batchRows) — trigger 0's instance
  *    is an original and is ACCEPTED; every later trigger re-sends the
  *    same text, dropped by the exact tier against the fingerprint
  *    LEDGER (the cross-trigger reference, exercised at scale);
  *  - 2  CONTAM: unique words plus a 7-word span copied from benchmark
  *    doc (u % benchN) — 3 interior 5-grams match, >= minMatches = 2,
  *    dropped by decontamination;
  *  - 3  NEAR_PRIOR: prior doc (u % P)'s text plus ONE extra unique
  *    word — shingle Jaccard ~0.97, dropped by the near tier (banded
  *    MinHash + signature-agreement verify; recall is probabilistic by
  *    design, so this class has a measured rate, not a closed form —
  *    the equivalence contract below still pins it exactly);
  *  - 4-19 ORIGINAL: unique identity, ACCEPTED.
  *
  * Contracts `require`d in-run at scale:
  *  - EQUIVALENCE: the streamed chain's accepted id set (served by the
  *    vector index) equals the ONE-SHOT batch chain over the same docs
  *    (exactIncremental + nearIncremental + ngramDecontaminate with the
  *    same parameters — deterministic Portable hashes make the near
  *    tier's probabilistic recall identical on both sides);
  *  - TOKEN MASS: the shard store's total n_tokens == prior pack mass +
  *    the accepted docs' byte-BPE token mass (id-free packing cannot
  *    lose or duplicate a document without moving this);
  *  - LEDGER: the union of per-trigger ledger fingerprints == the
  *    accepted docs' fingerprint set (the crash-window discipline holds
  *    under real growth);
  *  - CLASS PINS (closed-form): zero EXACT_PRIOR and zero CONTAM ids
  *    accepted; EXACT_STREAM accepted == exactly trigger 0's
  *    batchRows/20 instances; ALL originals accepted (a near-tier false
  *    positive would have to defeat 32-hash signature agreement between
  *    unrelated random texts); NEAR_PRIOR drop rate >= 0.9 (expected
  *    ~1.0);
  *  - FLATNESS: per-trigger wall (from the engine's own progress
  *    events, trigger 0 excluded as JVM warmup) does not grow: mean of
  *    the second half <= 1.6 x mean of the first half, while the store
  *    and ledger the later triggers reference keep growing — the
  *    O(batch)-per-trigger claim, measured.
  *
  * Deliberately NOT a bench row (hundreds of thousands of docs through
  * a micro-batch drain); same rationale as [[AnnScale]]/[[ShardScale]]/
  * [[StreamJoinScale]].
  * Usage: runMain graft.tools.RefreshScale [prior] [triggers]
  *   [batchRows] [out]
  */
object RefreshScale {

  final case class Result(prior: Long, triggers: Int, batchRows: Long,
                          streamDocs: Long, accepted: Long,
                          exactPriorAccepted: Long,
                          exactStreamAccepted: Long,
                          contamAccepted: Long, nearAccepted: Long,
                          originalsAccepted: Long,
                          equivalenceHolds: Boolean, massHolds: Boolean,
                          ledgerHolds: Boolean,
                          perTriggerWallS: Vector[Double],
                          flatnessRatio: Double, drainWallS: Double,
                          totalWallS: Double, storeTokens: Long,
                          genAfterDrain: Long = -1L,
                          storeFilesAfterDrain: Long = -1L,
                          skewRoutedTriggers: Long = 0L)

  private val BenchN = 200L

  /** Recursive .parquet leaf count — the merged-read amplification. */
  private def countParquet(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(countParquet).sum
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  /** 30 deterministic 8-hex-char words from an identity string. */
  private[graft] def wordsOf(identity: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(29)),
      i => substring(md5(concat(identity, lit(":"), i.cast("string"))),
        1, 8)))

  private[graft] def priorDocs(spark: SparkSession, prior: Long): DataFrame =
    spark.range(prior).select(col("id").as("doc_id"))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(8L)).cast("string")))
      .withColumn("text",
        wordsOf(concat(lit("p"), col("doc_id").cast("string"))))

  private[graft] def benchDocs(spark: SparkSession): DataFrame =
    spark.range(BenchN).select(col("id").as("bench_id"))
      .withColumn("text",
        wordsOf(concat(lit("b"), col("bench_id").cast("string"))))

  /** The 7-word contamination span: words 5..11 of benchmark doc k. */
  private def benchSpan(k: Column): Column =
    concat_ws(" ", transform(sequence(lit(5), lit(11)),
      i => substring(md5(concat(concat(lit("b"), k.cast("string")),
        lit(":"), i.cast("string"))), 1, 8)))

  /** Stream docs u in [0, n): doc_id = prior + u, class = u % 20.
    * `hotPct` > 0 is the Zipfian-source variant (REFRESH_SKEW.json):
    * that percentage of docs lands in ONE shard (`srchot`), the rest
    * keep the balanced round-robin — text, classes and therefore
    * ACCEPTANCE are unchanged (every dedup tier keys on text/id, never
    * the shard), so a skewed drain must reproduce the balanced drain's
    * accepted set and token mass exactly. */
  private[graft] def streamDocs(spark: SparkSession, prior: Long,
                                n: Long, batchRows: Long,
                                hotPct: Int = 0): DataFrame = {
    val u = col("__u")
    val mod = pmod(u, lit(20L))
    val identity =
      when(mod === 0L, concat(lit("p"),
        pmod(floor(u / 20L).cast("long"), lit(prior)).cast("string")))
      .when(mod === 1L, concat(lit("s"),
        pmod(u, lit(batchRows)).cast("string")))
      .when(mod === 2L, concat(lit("c"), u.cast("string")))
      .when(mod === 3L, concat(lit("p"), pmod(u, lit(prior)).cast("string")))
      .otherwise(concat(lit("o"), u.cast("string")))
    val base = wordsOf(identity)
    val text =
      when(mod === 2L, concat(base, lit(" "), benchSpan(pmod(u, lit(BenchN)))))
      .when(mod === 3L, concat(base, lit(" "),
        substring(md5(concat(lit("x"), u.cast("string"))), 1, 8)))
      .otherwise(base)
    val src =
      if (hotPct <= 0)
        concat(lit("src"), pmod(col("__u") + prior, lit(8L)).cast("string"))
      else when(pmod(col("__u"), lit(100L)) < hotPct, lit("srchot"))
        .otherwise(concat(lit("src"),
          pmod(col("__u") + prior, lit(8L)).cast("string")))
    spark.range(n).select(col("id").as("__u"))
      .select((col("__u") + prior).as("doc_id"), col("__u"),
        src.as("source"), text.as("text"))
  }

  /** Stage [[streamDocs]] `all` as `triggers` drops of `batchRows`
    * docs each, in id order ([[StagedDrops.stage]]'s layout), with
    * their [[StagedDrops.emb]] vectors. */
  private[graft] def stageDrops(all: DataFrame, streamDir: String,
                                triggers: Int, batchRows: Long): Unit =
    (0 until triggers).foreach { t =>
      StagedDrops.stage(all.filter(col("__u") >= t * batchRows &&
          col("__u") < (t + 1) * batchRows)
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("embedding", StagedDrops.emb), streamDir, t)
    }

  /** (count, wrapping sum of a 60-bit md5 prefix) over a single string
    * column — an order-independent set digest; both sides of each
    * equality are computed by this same function in-session. */
  private[graft] def setDigest(df: DataFrame, c: Column): (Long, Long) = {
    val r = df.select(conv(substring(md5(c.cast("string")), 1, 15),
        16, 10).cast("long").as("__h"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__h")).cast("long").as("h")).collect()(0)
    (r.getAs[Long]("n"), r.getAs[Long]("h"))
  }

  /** Drive the cross-store refresh chain over `triggers x batchRows`
    * synthetic stream docs against a `prior`-doc corpus, verifying
    * nothing yet — [[check]] holds the contracts. Both stores are
    * seeded by [[StagedDrops.seedPrior]]; the stream is staged by
    * [[stageDrops]], so trigger t drains exactly stream docs
    * `[t * batchRows, (t + 1) * batchRows)` (the [[StagedDrops]]
    * contract).
    *
    * Variant knobs for the skew / state-store evidence legs (defaults
    * reproduce the REFRESH_SCALE/REFRESH_SLOPE shape exactly):
    * `hotPct` routes that percentage of stream docs into one shard
    * (see [[streamDocs]]); `packSkew` is threaded to
    * [[RefreshPipeline.run]] (None = the auto-probe); `stateful` puts
    * a REAL stateful operator upstream of the chain — a watermarked
    * `dropDuplicates` whose event time advances one step per trigger,
    * so the engine maintains (and evicts) genuine state-store state
    * while ids stay globally unique and the accepted set is UNCHANGED
    * — which is what makes `providerClass` (e.g. RocksDB) a
    * meaningful swap rather than a no-op on a stateless drain. */
  def run(spark: SparkSession, prior: Long, triggers: Int,
          batchRows: Long, hotPct: Int = 0,
          packSkew: Option[Boolean] = None,
          stateful: Boolean = false,
          providerClass: Option[String] = None,
          managed: Option[Int] = None,
          tierFanout: Option[Int] = None,
          log: Option[RefreshPipeline.DrainLog] = None)
      : Result = {
    require(prior >= 100 && triggers >= 2 && batchRows >= 20 &&
      batchRows % 20 == 0,
      "need prior >= 100, triggers >= 2, batchRows a multiple of 20")
    val t0 = System.nanoTime()
    val n = triggers * batchRows
    val big = prior >= 10000
    val base = Files.createTempDirectory("graft_refreshscale_")
    val d = priorDocs(spark, prior).localCheckpoint(true)
    val bench = benchDocs(spark).localCheckpoint(true)
    try {
      // seed both stores with the prior corpus (the caller contract of
      // RefreshPipeline.run): v0 shard pack + the IVF-PQ index base.
      // `managed` (= Some(compactEvery)) runs the GENERATION-managed
      // lifecycle instead — StoreRoot roots, compaction ON SCHEDULE
      // inside the drain (q175's shape) — so the full production path
      // (fold, manifest swap, retire) is measured at scale, not just
      // bench-scale and crash-injected
      val (seedStore, seedIx) = managed match {
        case Some(_) =>
          (graft.streaming.StoreRoot.init(s"$base/shardRoot"),
            graft.streaming.StoreRoot.init(s"$base/ixRoot"))
        case None => (s"$base/store", s"$base/ix")
      }
      StagedDrops.seedPrior(d, seedStore, Some(seedIx),
        nLists = if (big) 32 else 4, kCodes = if (big) 16 else 8)
      val all = streamDocs(spark, prior, n, batchRows, hotPct)
        .localCheckpoint(true)
      try {
        stageDrops(all, s"$base/docs", triggers, batchRows)
        val raw = StagedDrops.open(spark, s"$base/docs")
        // the stateful leg: event time advances one hour per trigger
        // (derived from doc_id, so it is deterministic and id-ordered
        // with the files); the 2 h watermark holds ~3 triggers of
        // dedup state live and evicts the rest — real state-store
        // traffic with ZERO semantic effect (ids are globally unique,
        // so dropDuplicates passes every row through)
        val stream =
          if (!stateful) raw
          else raw
            .withColumn("__ts", timestamp_seconds(lit(1700000000L) +
              floor((col("doc_id") - prior) / batchRows).cast("long")
                * 3600L))
            .withWatermark("__ts", "2 hours")
            .dropDuplicates("doc_id", "__ts")
            .drop("__ts")
        // per-trigger wall from the engine's own progress events
        val timings =
          new java.util.concurrent.ConcurrentHashMap[Long, Double]()
        val listener = new StreamingQueryListener {
          override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            if (p.numInputRows > 0)
              timings.put(p.batchId,
                p.durationMs.get("triggerExecution").toDouble / 1e3)
            ()
          }
          override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener)
        // pack-route telemetry: which triggers the auto-probe (or the
        // forced packSkew) sent through the skew-robust pack — the
        // REFRESH_SKEW artifact gates on this directly
        val drainLog = log.getOrElse(new RefreshPipeline.DrainLog)
        val tDrain = System.nanoTime()
        try managed match {
          case Some(ce) =>
            RefreshPipeline.runManaged(stream, d, bench,
              shardRoot = s"$base/shardRoot",
              ledgerDir = s"$base/ledger",
              checkpointDir = s"$base/ck", compactEvery = ce,
              indexRoot = Some(s"$base/ixRoot"),
              packSkew = packSkew, providerClass = providerClass,
              tierFanout = tierFanout, log = Some(drainLog))
          case None =>
            RefreshPipeline.run(stream, d, bench,
              storeDir = s"$base/store", ledgerDir = s"$base/ledger",
              checkpointDir = s"$base/ck", indexDir = Some(s"$base/ix"),
              packSkew = packSkew, providerClass = providerClass,
              log = Some(drainLog))
        }
        finally {
          // progress events are delivered async; give the bus a moment
          val deadline = System.nanoTime() + 10e9.toLong
          while (timings.size < triggers && System.nanoTime() < deadline)
            Thread.sleep(100)
          spark.streams.removeListener(listener)
        }
        val drainWall = (System.nanoTime() - tDrain) / 1e9
        // the one-shot batch chain over the same docs — the streamed
        // run's EQUIVALENCE reference (same parameters as
        // RefreshPipeline.run's defaults, same deterministic hashes)
        val batchDocs = all.select(col("doc_id"), col("__u"),
          col("source"), col("text"))
        val expected = Dedup.ngramDecontaminate(
            Dedup.nearIncremental(
              Dedup.exactIncremental(batchDocs, d, "text", "doc_id"),
              d, "text", "doc_id", numHashes = 32, bands = 8,
              threshold = 0.8, mode = Dedup.Portable),
            bench, "text", "doc_id", n = 5, minMatches = 2)
          .filter(!col("contaminated"))
          .select(col("doc_id"), col("__u"), col("text"))
          .localCheckpoint(true)
        try {
          val classCounts = expected
            .groupBy(pmod(col("__u"), lit(20L)).as("__m"))
            .agg(count(lit(1)).as("__c"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val accepted = classCounts.values.sum
          // streamed accepted ids, as the INDEX serves them (managed:
          // served THROUGH the root, so the post-compaction manifest
          // state is itself under test)
          val served = (managed match {
              case Some(_) => graft.streaming.StoreRoot
                .readVectors(spark, s"$base/ixRoot", idCol = "doc_id")
              case None =>
                VectorIndexSink.read(spark, s"$base/ix", idCol = "doc_id")
            })
            .encoded.select(col("doc_id"))
            .filter(col("doc_id") >= prior)
          val equivalence =
            setDigest(served, col("doc_id")) ==
              setDigest(expected, col("doc_id"))
          // shard-store token mass == prior mass + accepted mass
          val mass = (df: DataFrame) => df.select(
              size(Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
                .cast("long").as("__m"))
            .agg(coalesce(sum(col("__m")), lit(0L))).collect()(0).getLong(0)
          val storeTokens = (managed match {
              case Some(_) => graft.streaming.StoreRoot
                .readShard(spark, s"$base/shardRoot")
              case None => ShardSink.read(spark, s"$base/store")
            })
            .agg(sum(col("n_tokens").cast("long"))).collect()(0).getLong(0)
          val massHolds = storeTokens == mass(d) + mass(expected)
          // ledger fingerprints == accepted docs' fingerprints
          val ledger = spark.read.parquet(
            graft.streaming.RefreshPipeline.ledgerLeafPaths(
              graft.streaming.StoreFiles
                .publishedDirs(s"$base/ledger", "b",
                  graft.streaming.StoreFiles.hasLedgerParquet)
                .map(_._2), None): _*)
          val ledgerHolds =
            setDigest(ledger, col("__pfp")) ==
              setDigest(expected,
                graft.functions.TextFunctions.fingerprint(col("text")))
          Result(prior, triggers, batchRows, n, accepted,
            exactPriorAccepted = classCounts.getOrElse(0L, 0L),
            exactStreamAccepted = classCounts.getOrElse(1L, 0L),
            contamAccepted = classCounts.getOrElse(2L, 0L),
            nearAccepted = classCounts.getOrElse(3L, 0L),
            originalsAccepted =
              (4L until 20L).map(classCounts.getOrElse(_, 0L)).sum,
            equivalenceHolds = equivalence, massHolds = massHolds,
            ledgerHolds = ledgerHolds,
            perTriggerWallS = (0 until triggers)
              .map(t => timings.getOrDefault(t.toLong, -1.0)).toVector,
            flatnessRatio = flatness((0 until triggers)
              .map(t => timings.getOrDefault(t.toLong, -1.0)).toVector),
            drainWallS = drainWall,
            totalWallS = (System.nanoTime() - t0) / 1e9,
            storeTokens = storeTokens,
            genAfterDrain = managed.map(_ => graft.streaming.StoreRoot
              .currentGen(s"$base/shardRoot")).getOrElse(-1L),
            // read amplification, measured where it bites: how many
            // parquet leaf files the merged shard read now touches
            // (managed: the CURRENT generation only — folds bound it;
            // plain: the ever-growing version-dir store)
            storeFilesAfterDrain = countParquet(new java.io.File(
              managed match {
                case Some(_) => graft.streaming.StoreRoot
                  .currentDir(s"$base/shardRoot")
                case None => s"$base/store"
              })),
            skewRoutedTriggers = drainLog.rows.count(_.skewRobust).toLong)
        } finally
          org.apache.spark.sql.graftglue.GraftGlue
            .releaseCheckpoint(expected)
      } finally
        org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(all)
    } finally {
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(bench)
      graft.streaming.StoreFiles.deleteRec(base.toFile)
    }
  }

  /** Mean of the second half over mean of the first half, trigger 0
    * excluded (JVM/codegen warmup); -1 if timings were not captured.
    * `private[tools]` so every min-combined Result (here and in
    * RefreshVariants) RECOMPUTES it from the min vector — a copied
    * raw-pass flatness would not correspond to the published walls. */
  private[graft] def flatness(w: Vector[Double]): Double = {
    val usable = w.drop(1).filter(_ >= 0)
    if (usable.size < 2) -1.0
    else {
      val (a, b) = usable.splitAt(usable.size / 2)
      b.sum / b.size / (a.sum / a.size)
    }
  }

  /** The contracts, shared verbatim between the scale run and the
    * spec-scale run in RefreshPipelineSpec. */
  /** `requireFlatness = false` is the min-over-N loop's per-pass mode:
    * the deterministic contracts hold on EVERY raw pass, but the
    * flatness gate — the one timing-sensitive require — is enforced on
    * the min-combined vector only, since a single host spike in one
    * pass would otherwise kill a run whose floor is perfectly flat
    * (observed: a raw pass at flatness 1.6+ min-combined to 0.94). */
  def check(r: Result, requireFlatness: Boolean = true): Unit = {
    require(r.equivalenceHolds,
      "streamed accepted ids != one-shot batch chain ids")
    require(r.massHolds, "shard-store token mass != prior + accepted")
    require(r.ledgerHolds, "ledger fingerprints != accepted docs'")
    require(r.exactPriorAccepted == 0,
      s"EXACT_PRIOR docs leaked: ${r.exactPriorAccepted}")
    require(r.contamAccepted == 0,
      s"CONTAM docs leaked: ${r.contamAccepted}")
    require(r.exactStreamAccepted == r.batchRows / 20,
      s"EXACT_STREAM accepted ${r.exactStreamAccepted} != " +
        s"trigger 0's ${r.batchRows / 20}")
    require(r.originalsAccepted == r.streamDocs * 16 / 20,
      s"originals accepted ${r.originalsAccepted} != " +
        s"${r.streamDocs * 16 / 20}")
    val nearDropRate =
      1.0 - r.nearAccepted.toDouble / (r.streamDocs / 20)
    require(nearDropRate >= 0.9,
      f"NEAR_PRIOR drop rate $nearDropRate%.3f < 0.9")
    if (requireFlatness)
      require(r.flatnessRatio < 0 || r.flatnessRatio <= 1.6,
        f"per-trigger wall grows: flatness ${r.flatnessRatio}%.2f > 1.6")
    ()
  }

  def main(args: Array[String]): Unit = {
    val prior = args.headOption.map(_.toLong).getOrElse(50000L)
    val triggers = args.lift(1).map(_.toInt).getOrElse(10)
    val batchRows = args.lift(2).map(_.toLong).getOrElse(20000L)
    val out = args.lift(3).getOrElse("REFRESH_SCALE.json")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.driver.memory", "48g")
      .config("spark.sql.shuffle.partitions", 32)
      // FAIR + per-thread pools so an out-of-band compaction fold
      // cannot head-of-line-block a concurrent trigger's jobs (see
      // StoreRoot.FoldSchedulerPool)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // min-over-N (the SHARD_SCALE discipline): every repetition drives
    // the FULL drain with every contract `require`d; the recorded
    // walls are per-metric minimums (per-trigger walls element-wise,
    // flatness recomputed from the min vector). Accepted counts and
    // digests must reproduce bit-for-bit — deterministic Portable
    // hashes make even the near tier's probabilistic recall identical
    // across runs.
    val per = (1 to scaleRuns).map { i =>
      val r0 = run(spark, prior, triggers, batchRows)
      check(r0, requireFlatness = false)
      println(f"[refreshscale] pass $i/$scaleRuns " +
        f"drain=${r0.drainWallS}%.1fs flatness=${r0.flatnessRatio}%.3f")
      r0
    }
    val ident = per.map(r0 => (r0.accepted, r0.exactStreamAccepted,
      r0.nearAccepted, r0.originalsAccepted, r0.storeTokens)).distinct
    require(ident.size == 1,
      s"non-deterministic refresh outcome across runs: $ident")
    val minWalls = per.map(_.perTriggerWallS).transpose
      .map(ws => if (ws.forall(_ >= 0)) ws.min else -1.0).toVector
    val r = per.minBy(_.drainWallS).copy(
      perTriggerWallS = minWalls,
      flatnessRatio = flatness(minWalls),
      drainWallS = per.map(_.drainWallS).min,
      totalWallS = per.map(_.totalWallS).min)
    check(r) // the flatness gate, on the min-combined vector
    val nearDropRate =
      1.0 - r.nearAccepted.toDouble / (r.streamDocs / 20)
    val json =
      f"""{"recipe":"cross-store RefreshPipeline drain over synthetic """ +
      f"""classed docs: exact/near/decontam tiers, BPE pack, both """ +
      f"""stores, ledger; equivalence vs one-shot batch chain",""" +
      f""""prior_docs":${r.prior},"triggers":${r.triggers},""" +
      f""""runs":$scaleRuns,""" +
      f""""batch_rows":${r.batchRows},"stream_docs":${r.streamDocs},""" +
      f""""accepted":${r.accepted},""" +
      f""""exact_prior_accepted":${r.exactPriorAccepted},""" +
      f""""exact_stream_accepted":${r.exactStreamAccepted},""" +
      f""""contam_accepted":${r.contamAccepted},""" +
      f""""near_accepted":${r.nearAccepted},""" +
      f""""near_drop_rate":$nearDropRate%.4f,""" +
      f""""originals_accepted":${r.originalsAccepted},""" +
      f""""equivalence_holds":${r.equivalenceHolds},""" +
      f""""mass_holds":${r.massHolds},""" +
      f""""ledger_holds":${r.ledgerHolds},""" +
      f""""store_tokens":${r.storeTokens},""" +
      f""""per_trigger_wall_s":[${r.perTriggerWallS
        .map(w => f"$w%.2f").mkString(",")}],""" +
      f""""flatness_ratio":${r.flatnessRatio}%.3f,""" +
      f""""drain_wall_s":${r.drainWallS}%.1f,""" +
      f""""docs_per_s":${r.streamDocs / r.drainWallS}%.0f,""" +
      f""""total_wall_s":${r.totalWallS}%.1f}""" + "\n"
    Files.writeString(Paths.get(out), json)
    println(s"[refreshscale] $json")
    spark.stop()
  }
}
