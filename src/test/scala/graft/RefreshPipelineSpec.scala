package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.{RefreshPipeline, ShardSink, StoreFiles, VectorIndexSink}
import graft.functions.{Bpe, BpeByteVocab}
import graft.operators.Similarity

/** The refresh pipeline's at-least-once delivery contract: a trigger
  * builds its exact-dedup reference only from STRICTLY EARLIER ledger
  * batches and publishes its own ledger batch only after its store
  * commits — so the crash window where a re-delivered trigger sees its
  * own accepted fingerprints (and silently drops the whole drop) cannot
  * exist. */
class RefreshPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text")

  // one set of prior caches per test, built once and released after,
  // exactly as run() seeds one per drain
  private def withCaches[A](prior: org.apache.spark.sql.DataFrame,
                            benchmark: org.apache.spark.sql.DataFrame)
                           (body: RefreshPipeline.PriorCaches => A): A = {
    val caches = RefreshPipeline.priorCaches(prior, benchmark, "text",
      numHashes = 32, bands = 8, decontamN = 5)
    try body(caches) finally caches.release()
  }

  // drive one trigger exactly as the foreachBatch body would —
  // processBatch is the unit the streaming run() re-delivers
  private def trigger(batch: org.apache.spark.sql.DataFrame,
                      batchId: Long, caches: RefreshPipeline.PriorCaches,
                      base: java.nio.file.Path,
                      indexDir: Option[String] = None,
                      packSkew: Option[Boolean] = None,
                      log: Option[RefreshPipeline.DrainLog] = None): Unit =
    RefreshPipeline.processBatch(batch, batchId, caches,
      RefreshPipeline.Stores.Dirs(s"$base/store", indexDir),
      s"$base/ledger", budget = 16,
      shardCol = "source", idCol = "doc_id", threshold = 0.8,
      minMatches = 2, vecCol = "embedding", packSkew = packSkew, log = log)

  test("a re-delivered trigger whose ledger batch already published " +
      "(the post-commit crash window) keeps its docs: no self-masking") {
    val base = java.nio.file.Files.createTempDirectory("graft_rps_")
    try {
      val prior = docsDF((1L, "a", "alpha bravo charlie delta"))
      val benchmark = prior.limit(0)
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store") // prior pack v0
      val batch = docsDF(
        (3L, "a", "echo foxtrot golf hotel india"),
        (6L, "b", "juliet kilo lima mike november"))
      withCaches(prior, benchmark) { caches =>
      trigger(batch, 0L, caches, base)
      def storedTokens() = ShardSink.read(spark, s"$base/store")
        .agg(sum(col("n_tokens").cast("long"))).as[Long].collect().head
      val after1 = storedTokens()
      assert(StoreFiles
        .publishedDirs(s"$base/ledger", "b", StoreFiles.hasLedgerParquet)
        .map(_._1) == Seq(0L)) // the trigger's own ledger batch is up
      // RE-DELIVERY of trigger 0 with its ledger batch b0 already
      // published — exactly the state a crash between the ledger
      // publish and the checkpoint advance leaves. The reference is
      // built only from batches < 0 (none), so the re-run keeps the
      // same docs, finds v1 committed, and no-ops — it must NOT see
      // its own fingerprints, drop everything, and commit nothing
      trigger(batch, 0L, caches, base)
      assert(storedTokens() == after1)
      // and the harder half of the window: ledger published, store
      // commit LOST (crash between the two under the OLD ordering —
      // with publish-after-commit this state needs the store rolled
      // back by hand, but the reference rule alone must still heal
      // it). The re-run's anti-join reference excludes b0, so the
      // accepted docs are re-derived identically and the store commit
      // is REPUBLISHED, not silently skipped as an empty version.
      StoreFiles.deleteRec(new java.io.File(s"$base/store/v1"))
      trigger(batch, 0L, caches, base)
      assert(storedTokens() == after1,
        "re-delivered trigger self-masked against its own ledger batch")
      // a LATER trigger does reference b0: the same text re-arriving
      // under a new id in batch 1 is dropped as a cross-drop duplicate
      val rebatch = docsDF((9L, "a", "echo foxtrot golf hotel india"))
      trigger(rebatch, 1L, caches, base)
      assert(storedTokens() == after1,
        "later trigger failed to dedup against the accepted ledger")
      }
    } finally rmTree(base)
  }

  test("cross-store refresh: one trigger maintains the shard store AND " +
      "the vector index; served index ids == prior + accepted docs") {
    val base = java.nio.file.Files.createTempDirectory("graft_rpx_")
    try {
      val prior = docsDF(
        (1L, "a", "alpha bravo charlie delta"),
        (2L, "b", "echo foxtrot golf hotel"),
        (3L, "a", "mike november oscar papa"),
        (4L, "b", "quebec romeo sierra tango"),
        (7L, "a", "uniform victor whiskey xray"),
        (8L, "b", "yankee zulu alfa beta"))
      // deterministic embedding column shared by prior + batch docs
      val priorE = prior.withColumn("embedding",
        transform(sequence(lit(0), lit(7)),
          i => sin(col("doc_id") * 3 + i).cast("float")))
      val benchmark = prior.limit(0)
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store")
      Similarity.ivfPqSave(
        Similarity.ivfPqBuild(priorE, nLists = 2, m = 2, kCodes = 4,
          iterations = 2, idCol = "doc_id"),
        s"$base/ix")
      // batch: one fresh doc, one exact duplicate of the prior corpus
      // (must be dropped from BOTH stores); ids sort after every prior
      // id (the id-ordered drops contract the one-shot replay assumes)
      val batch = docsDF(
        (9L, "a", "india juliet kilo lima"),
        (10L, "b", "alpha bravo charlie delta"))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(7)),
            i => sin(col("doc_id") * 3 + i).cast("float")))
      withCaches(prior, benchmark) { caches =>
      trigger(batch, 0L, caches, base,
        indexDir = Some(s"$base/ix"))
      val served = VectorIndexSink.read(spark, s"$base/ix", "doc_id")
        .encoded.select("doc_id").as[Long].collect().toSet
      assert(served == Set(1L, 2L, 3L, 4L, 7L, 8L, 9L),
        s"index serves $served, want the prior ids + accepted {9}")
      // the duplicate landed in neither store: the shard view equals
      // the one-shot pack of prior + the accepted doc only
      val want = graft.operators.Curate.packTokenIds(
        prior.unionByName(docsDF((9L, "a", "india juliet kilo lima")))
          .withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source")
        .select("source", "seq_id", "token_ids").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Int](2))
        .toMap
      val got = ShardSink.read(spark, s"$base/store")
        .select("source", "seq_id", "token_ids").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Int](2))
        .toMap
      assert(got == want)
      // re-delivery: both stores already committed their batch keys —
      // nothing doubles
      trigger(batch, 0L, caches, base,
        indexDir = Some(s"$base/ix"))
      assert(VectorIndexSink.read(spark, s"$base/ix", "doc_id")
        .encoded.count() == 7L)
      }
    } finally rmTree(base)
  }

  test("exactIncrementalStaged == exactIncremental on every row class: " +
      "stable dups, ledger dups, in-batch dups, nulls, fresh") {
    val prior = docsDF(
      (1L, "a", "alpha bravo charlie"),
      (2L, "b", "delta echo foxtrot"))
    val ledger = docsDF((100L, "a", "golf hotel india"))
    val batch = docsDF(
      (201L, "a", "alpha bravo charlie"), // dup of stable
      (202L, "b", "golf hotel india"),    // dup of the growing ledger
      (203L, "a", "juliet kilo lima"),    // fresh, kept
      (204L, "b", "juliet kilo lima"),    // in-batch dup: 203 survives
      (206L, "b", "mike november oscar")) // fresh, kept
      .unionByName(Seq((205L, "a")).toDF("doc_id", "source")
        .withColumn("text", lit(null).cast("string")))
    val stableFps = org.apache.spark.sql.graftglue.GraftGlue
      .checkpointWithLayout(Dedup.exactFingerprints(prior, "text"),
        "__pfp", 4)
    val ledgerFps = Dedup.exactFingerprints(ledger, "text")
    val refFps = stableFps.unionByName(ledgerFps)
    val bloom = refFps.stat.bloomFilter("__pfp", 100L, 0.01)
    val staged = Dedup.exactIncrementalStaged(batch, "text", "doc_id",
        stableFps, Some(ledgerFps), bloom)
      .select("doc_id").as[Long].collect().toSet
    val plain = Dedup.exactIncremental(batch, prior, "text", "doc_id",
        refFps = Some(refFps))
      .select("doc_id").as[Long].collect().toSet
    assert(staged == plain && staged == Set(203L, 205L, 206L),
      s"staged=$staged plain=$plain")
    // a bloom that is a strict SUPERSET of the reference (covers a
    // fingerprint no confirm side holds) must not change the result —
    // the one-sided-error contract the accumulator relies on
    bloom.putString("not-a-real-fingerprint")
    val superset = Dedup.exactIncrementalStaged(batch, "text", "doc_id",
        stableFps, Some(ledgerFps), bloom)
      .select("doc_id").as[Long].collect().toSet
    assert(superset == plain)
    // plan pin: at corpus scale the stable confirm is a merge join
    // that must not exchange OR sort the reference side — the cache is
    // already hash-partitioned and sorted on __pfp. (At spec scale the
    // planner would broadcast the tiny reference — also exchange-free
    // on the cache, but not the shape under pin — so force SMJ.)
    val prevBroadcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.exactIncrementalStaged(batch, "text", "doc_id",
          stableFps, None, bloom)
        .queryExecution.executedPlan
      val smj = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType.sql == "LEFT ANTI" => j }
      assert(smj.isDefined, plan.toString)
      val refSide = smj.get.right.toString
      assert(!refSide.contains("Exchange") && !refSide.contains("Sort"),
        s"reference side re-shuffled or re-sorted:\n$refSide")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevBroadcast)
    }
  }

  test("FingerprintBloom: unbroken sequence reuses the held bloom, a " +
      "break rebuilds from the confirm frame, a failed merge is invisible") {
    val fpsOf = (docs: org.apache.spark.sql.DataFrame) =>
      Dedup.exactFingerprints(docs, "text")
    val prior = fpsOf(docsDF((1L, "a", "alpha bravo charlie")))
    val b0 = fpsOf(docsDF((10L, "a", "delta echo foxtrot")))
    val b1 = fpsOf(docsDF((20L, "a", "golf hotel india")))
    val might = (b: org.apache.spark.util.sketch.BloomFilter,
                 fps: org.apache.spark.sql.DataFrame) =>
      fps.as[String].collect().forall(b.mightContainString)
    val acc = new RefreshPipeline.FingerprintBloom(0.01, 1000L)
    // first trigger: rebuild from the confirm frame (prior only)
    val bl0 = acc.bloomFor(0L, prior)
    assert(might(bl0, prior) && !might(bl0, b0))
    acc.advanceWith(0L, b0.as[String].collect())
    // unbroken: the held bloom now covers prior + b0 with no rebuild
    // (same instance — putString mutated it)
    val bl1 = acc.bloomFor(1L, prior.unionByName(b0))
    assert((bl1 eq bl0) && might(bl1, b0))
    // a failed trigger never called advance: its RETRY still sees the
    // held bloom (covering < 1), not its own fingerprints
    val blRetry = acc.bloomFor(1L, prior.unionByName(b0))
    assert((blRetry eq bl0) && !might(blRetry, b1))
    // sequence break (restart resumed at a later id): rebuilt from the
    // caller's confirm frame, which is the full reference again
    acc.advanceWith(1L, b1.as[String].collect())
    val blBroken = acc.bloomFor(5L, prior.unionByName(b0).unionByName(b1))
    assert(might(blBroken, b1) && might(blBroken, prior))
    // empty-trigger advance keeps the sequence unbroken without a merge
    acc.advanceWith(5L, Array.empty)
    assert(acc.bloomFor(6L, prior) eq blBroken)
    // bootstrapping a FRESH store: an empty reference rebuilds to an
    // empty bloom (nothing is a member) instead of the 0-row
    // bloomFilter-aggregate NPE
    val freshAcc = new RefreshPipeline.FingerprintBloom(0.01, 1000L)
    val blEmpty = freshAcc.bloomFor(0L, prior.limit(0))
    assert(!might(blEmpty, prior) && !might(blEmpty, b0))
  }

  test("the RefreshScale contract at spec scale: streamed chain == " +
      "one-shot batch chain, mass/ledger/class pins hold") {
    // 3 triggers x 100 classed docs against a 400-doc prior: the SAME
    // check() the committed REFRESH_SCALE.json run enforces — streamed
    // accepted ids equal the one-shot batch chain's, shard-store token
    // mass and ledger fingerprints reconcile exactly, every closed-form
    // class pin lands (0 exact-prior / 0 contam leaks, exactly trigger
    // 0's stream-dup instances, all originals kept).
    // min-over-2, exactly the committed artifact's protocol: every
    // deterministic contract is required on EVERY pass, but the one
    // timing-sensitive gate (per-trigger flatness) is enforced on the
    // element-wise min vector — at spec scale a trigger's wall is
    // sub-second, so a single host spike during a full `sbt test` run
    // otherwise fails a gate the drain's floor actually meets
    // (check()'s own scaladoc documents the observed 1.6+ -> 0.94 case)
    val passes = (1 to 2).map { _ =>
      val r0 = graft.tools.RefreshScale.run(spark, prior = 400,
        triggers = 3, batchRows = 100)
      graft.tools.RefreshScale.check(r0, requireFlatness = false)
      assert(r0.accepted == 240 + 5, s"accepted ${r0.accepted}")
      r0
    }
    val minWalls = passes.map(_.perTriggerWallS).transpose
      .map(ws => if (ws.forall(_ >= 0)) ws.min else -1.0).toVector
    graft.tools.RefreshScale.check(passes.head.copy(
      perTriggerWallS = minWalls,
      flatnessRatio = graft.tools.RefreshScale.flatness(minWalls)))
  }

  test("pack-skew strategies are output-identical through the full " +
      "drain: skewed stream, forced window pack vs forced skew-robust") {
    // one source holds 90% of stream docs (the REFRESH_SKEW.json shape
    // at spec scale); acceptance never keys on the shard, so both pack
    // strategies must land the identical accepted set, class pins and
    // store token mass — the bit-identity that makes the auto-probe
    // safe to default on
    def leg(skew: Option[Boolean]) = {
      val r = graft.tools.RefreshScale.run(spark, prior = 400,
        triggers = 3, batchRows = 100, hotPct = 90, packSkew = skew)
      graft.tools.RefreshScale.check(r, requireFlatness = false)
      r
    }
    val window = leg(Some(false))
    val robust = leg(Some(true))
    assert((window.accepted, window.exactStreamAccepted,
        window.nearAccepted, window.originalsAccepted,
        window.storeTokens) ==
      (robust.accepted, robust.exactStreamAccepted,
        robust.nearAccepted, robust.originalsAccepted,
        robust.storeTokens),
      s"pack strategies diverged: $window vs $robust")
  }

  test("autoPackSkew: crossover at a third above the floor, never below") {
    import RefreshPipeline.{autoPackSkew, AutoPackSkewFloor}
    val f = AutoPackSkewFloor
    assert(!autoPackSkew(hotRows = 90, totalRows = 100)) // below floor
    assert(autoPackSkew(hotRows = f / 2, totalRows = f)) // hot half
    assert(!autoPackSkew(hotRows = f / 3, totalRows = f)) // exactly 1/3
    assert(autoPackSkew(hotRows = f / 3 + 1, totalRows = f))
    assert(!autoPackSkew(hotRows = 0, totalRows = 0)) // empty batch
  }

  test("providerClass swap: RocksDB drain over a stateful upstream is " +
      "output-identical and the session conf is restored") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val rocks = "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider"
    val r = graft.tools.RefreshScale.run(spark, prior = 400,
      triggers = 3, batchRows = 100, stateful = true,
      providerClass = Some(rocks))
    graft.tools.RefreshScale.check(r, requireFlatness = false)
    assert(r.accepted == 240 + 5, s"accepted ${r.accepted}")
    assert(spark.conf.getOption(key) == before,
      s"provider conf not restored: ${spark.conf.getOption(key)}")
  }

  test("pruned confirm ledger: batches publish one file + a prefix " +
      "bitmap sidecar, ledgerLeafPaths skips candidate-disjoint batches " +
      "whole and keeps both legacy layouts readable") {
    val base = java.nio.file.Files.createTempDirectory("graft_rpl_")
    try {
      val prior = docsDF((1L, "a", "alpha bravo charlie delta"))
      val benchmark = prior.limit(0)
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store")
      withCaches(prior, benchmark) { caches =>
      def bloomTrigger(batch: org.apache.spark.sql.DataFrame,
                       id: Long): Unit = trigger(batch, id, caches, base)
      bloomTrigger(docsDF(
        (5L, "a", "echo foxtrot golf hotel"),
        (6L, "b", "india juliet kilo lima")), 0L)
      // the published batch carries ONE parquet file plus the prefix
      // bitmap sidecar, atomically (both were inside the staged dir)
      val b0 = new java.io.File(s"$base/ledger/b0")
      val marker = StoreFiles.readMarker(
        new java.io.File(b0, RefreshPipeline.PrefixMarker))
      assert(marker.exists(_.contains("bits")),
        "ledger batch missing its prefix bitmap sidecar")
      val bits = java.lang.Long.parseUnsignedLong(
        marker.get("bits"), 16)
      assert(bits != 0L, "accepted batch must occupy some prefix")
      assert(Option(b0.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet")) == 1,
        "ledger batch should be one parquet file")
      assert(StoreFiles.hasLedgerParquet(b0))
      // trigger 1 carries an exact dup of a trigger-0 ACCEPT: the
      // pruned confirm join must still drop it (the dup's prefix
      // partition is in the candidate set by construction)
      bloomTrigger(docsDF(
        (7L, "a", "echo foxtrot golf hotel"),
        (8L, "b", "mike november oscar papa")), 1L)
      val kept = ShardSink.read(spark, s"$base/store")
        .select("seq_id").as[Long].collect().toSet
      assert(!kept.isEmpty)
      val b1 = spark.read.parquet(
          RefreshPipeline.ledgerLeafPaths(
            Seq(new java.io.File(s"$base/ledger/b1")), None): _*)
        .count()
      assert(b1 == 1L, s"trigger 1 accepted $b1 fps, want 1 (dup of " +
        "the b0-accepted doc must be confirm-dropped via the pruned read)")
      // batch selection: a batch whose bitmap intersects the candidate
      // prefix set is kept WHOLE; a provably disjoint one is skipped;
      // None (the bloom-rebuild reference) always keeps everything
      val occupied = (0 until 64).filter(k => (bits >>> k & 1L) == 1L)
      assert(RefreshPipeline.ledgerLeafPaths(
        Seq(b0), Some(Set(occupied.head)))
        == Seq(b0.getAbsolutePath))
      val disjoint = (0 until 64).toSet -- occupied.toSet
      if (disjoint.nonEmpty)
        assert(RefreshPipeline.ledgerLeafPaths(
          Seq(b0), Some(Set(disjoint.head))).isEmpty,
          "disjoint-prefix batch should be skipped whole")
      assert(RefreshPipeline.ledgerLeafPaths(Seq(b0), None)
        == Seq(b0.getAbsolutePath))
      // legacy layouts degrade safely: a marker-less dir is never
      // pruned; a round-13.0 __pp=K partitioned dir prunes by subdir
      val legacy = new java.io.File(s"$base/legacy_ledger/b9")
      Dedup.exactFingerprints(prior, "text")
        .write.parquet(legacy.getAbsolutePath)
      val withLegacy = RefreshPipeline.ledgerLeafPaths(
        Seq(b0, legacy), Some(Set(disjoint.head)))
      assert(withLegacy == Seq(legacy.getAbsolutePath),
        s"legacy dir must survive pruning whole: $withLegacy")
      val partitioned = new java.io.File(s"$base/legacy_pp/b8")
      Dedup.exactFingerprints(prior, "text")
        .withColumn("__pp", lit(5))
        .write.partitionBy("__pp").parquet(partitioned.getAbsolutePath)
      assert(RefreshPipeline.ledgerLeafPaths(
          Seq(partitioned), Some(Set(5)))
        == Seq(new java.io.File(partitioned, "__pp=5").getAbsolutePath))
      assert(RefreshPipeline.ledgerLeafPaths(
        Seq(partitioned), Some(Set(6))).isEmpty)
      }
    } finally rmTree(base)
  }

  test("empty trigger short-circuit: a no-data batch commits nothing " +
      "(no store version, no ledger batch) and later triggers' keys " +
      "and dedup reference are unaffected") {
    val base = java.nio.file.Files.createTempDirectory("graft_rpe_")
    try {
      val prior = docsDF((1L, "a", "alpha bravo charlie delta"))
      val benchmark = prior.limit(0)
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store")
      withCaches(prior, benchmark) { caches =>
      def bloomTrigger(batch: org.apache.spark.sql.DataFrame,
                       id: Long): Unit = trigger(batch, id, caches, base)
      bloomTrigger(docsDF((5L, "a", "echo foxtrot golf hotel")), 0L)
      // trigger 1 is the watermark-flush no-data batch
      bloomTrigger(docsDF().limit(0), 1L)
      def storeVersions() = new java.io.File(s"$base/store").listFiles()
        .filter(_.getName.matches("v\\d+")).map(_.getName).sorted.toSeq
      def ledgerBatches() = StoreFiles
        .publishedDirs(s"$base/ledger", "b", StoreFiles.hasLedgerParquet)
        .map(_._1)
      assert(storeVersions() == Seq("v0", "v1"),
        s"empty trigger committed a store version: ${storeVersions()}")
      assert(ledgerBatches() == Seq(0L),
        s"empty trigger published a ledger batch: ${ledgerBatches()}")
      // trigger 2 commits under ITS OWN keys (v3 / b2 — the gap reads
      // as "nothing arrived") and still dedups against b0's accepts
      bloomTrigger(docsDF(
        (7L, "a", "echo foxtrot golf hotel"),   // dup of b0's accept
        (8L, "b", "india juliet kilo lima")), 2L)
      assert(storeVersions() == Seq("v0", "v1", "v3"),
        s"trigger 2 should commit v3: ${storeVersions()}")
      assert(ledgerBatches() == Seq(0L, 2L))
      val b2 = spark.read.parquet(RefreshPipeline.ledgerLeafPaths(
        Seq(new java.io.File(s"$base/ledger/b2")), None): _*).count()
      assert(b2 == 1L,
        s"dup of the b0 accept must still be confirm-dropped, got $b2")
      // re-delivery of the empty trigger stays a no-op
      bloomTrigger(docsDF().limit(0), 1L)
      assert(storeVersions() == Seq("v0", "v1", "v3")
        && ledgerBatches() == Seq(0L, 2L))
      }
    } finally rmTree(base)
  }

  test("a non-empty cross-store trigger through processBatch runs a " +
      "pinned number of Spark jobs") {
    // trigger 1 of a cross-store drain, with the held bloom from
    // trigger 0: it carries a dup of a trigger-0 accept (ledger
    // confirm), a dup of the prior (index confirm) and a fresh doc.
    // 22 = the 24 the bloom + index exact tier ran when it became
    // processBatch's only path, less the two parquet schema-inference
    // jobs the ledger reads ran before they declared the ledger schema
    // (trigger 1's jobs on a fresh base, with or without a DrainLog)
    def pinnedTrigger(log: Option[RefreshPipeline.DrainLog]): Int = {
      val base = java.nio.file.Files.createTempDirectory("graft_rpj_")
      try {
        val emb = transform(sequence(lit(0), lit(7)),
          i => sin(col("doc_id") * 3 + i).cast("float"))
        val prior = docsDF(
          (1L, "a", "alpha bravo charlie delta"),
          (2L, "b", "echo foxtrot golf hotel"),
          (3L, "a", "mike november oscar papa"),
          (4L, "b", "quebec romeo sierra tango"))
        ShardSink.append(spark,
          prior.withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
          "__ids", "doc_id", 16, "source", s"$base/store")
        Similarity.ivfPqSave(
          Similarity.ivfPqBuild(prior.withColumn("embedding", emb),
            nLists = 2, m = 2, kCodes = 4, iterations = 2,
            idCol = "doc_id"),
          s"$base/ix")
        withCaches(prior, prior.limit(0)) { caches =>
          def crossTrigger(batch: org.apache.spark.sql.DataFrame,
                           id: Long): Unit =
            trigger(batch.withColumn("embedding", emb), id, caches, base,
              indexDir = Some(s"$base/ix"), log = log)
          crossTrigger(docsDF((9L, "a", "india juliet kilo lima"),
            (10L, "b", "alpha bravo charlie delta")), 0L)
          val (_, jobs) = jobsOf(crossTrigger(docsDF(
            (11L, "a", "india juliet kilo lima"),
            (12L, "b", "uniform victor whiskey xray"),
            (13L, "a", "echo foxtrot golf hotel")), 1L))
          val ledgered = spark.read.parquet(s"$base/ledger/b1").count()
          assert(ledgered == 1L,
            s"trigger 1 accepted $ledgered fps, want only the fresh doc")
          jobs
        }
      } finally rmTree(base)
    }
    val jobs = pinnedTrigger(None)
    assert(jobs == 22, s"trigger 1 ran $jobs Spark jobs, want 22")
    // the same two triggers on a second base with a DrainLog attached:
    // the log adds no job, its batch-1 row counts the same 22 (every
    // job of the trigger's group, the append carrier's included), and
    // it times all eight labelled stages
    val log = new RefreshPipeline.DrainLog
    val logged = pinnedTrigger(Some(log))
    assert(logged == 22,
      s"with a DrainLog trigger 1 ran $logged Spark jobs, want 22")
    val row = log.rows.find(_.batchId == 1L)
    assert(row.map(_.jobs).contains(22), s"batch-1 row: $row")
    assert(row.map(_.stages.keySet).contains(Set("exactconfirm",
      "exactledger", "tiers", "skewprobe", "shard", "index", "ledger",
      "bloomadv")), s"batch-1 stages: ${row.map(_.stages)}")
    assert(row.exists(r => r.tasks > 0L &&
      r.stages.values.map(_.jobs).sum <= r.jobs), s"batch-1 row: $row")
  }

  test("DrainLog rows over three unbroken triggers: one bloom rebuild, " +
      "the confirm read of a re-sent accept, the pack route and the " +
      "sizes of the two driver collects") {
    val base = java.nio.file.Files.createTempDirectory("graft_rpd_")
    try {
      val prior = docsDF((1L, "a", "alpha bravo charlie delta"))
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store")
      val log = new RefreshPipeline.DrainLog
      withCaches(prior, prior.limit(0)) { caches =>
        trigger(docsDF(
          (5L, "a", "echo foxtrot golf hotel"),
          (6L, "b", "india juliet kilo lima")), 0L, caches, base,
          log = Some(log))
        // trigger 1 re-sends trigger 0's first accept
        trigger(docsDF(
          (7L, "a", "echo foxtrot golf hotel"),
          (8L, "b", "mike november oscar papa")), 1L, caches, base,
          log = Some(log))
        // trigger 2 forces the skew-robust pack
        trigger(docsDF((9L, "a", "quebec romeo sierra tango")), 2L,
          caches, base, packSkew = Some(true), log = Some(log))
      }
      val rows = log.rows
      assert(rows.map(r => (r.batchId, r.batchRows)) ==
        Seq((0L, 2L), (1L, 2L), (2L, 1L)), rows)
      // an unbroken drain rebuilds the bloom once, on trigger 0
      assert(rows.forall(_.bloomRebuilds == 1L), rows)
      assert(rows.map(_.earlierBatches) == Seq(0, 1, 2), rows)
      assert(rows(1).confirmPaths >= 1 && rows(1).confirmBytes > 0L &&
        rows(1).candidates >= 1L, rows(1))
      // below AutoPackSkewFloor the auto-probe keeps the window pack;
      // an explicit packSkew wins
      assert(rows.map(_.skewRobust) == Seq(false, false, true), rows)
      // accepted = the ledger batch's fingerprint count
      assert(rows.map(_.accepted) == Seq(2L, 1L, 1L), rows)
      assert(log.tiersPlan.exists(_.contains("Physical Plan")),
        log.tiersPlan)
    } finally rmTree(base)
  }

  test("a DrainLog row counts only the trigger's own job group: jobs " +
      "another group runs meanwhile, as a fold does, are left out") {
    val base = java.nio.file.Files.createTempDirectory("graft_rpg_")
    try {
      val prior = docsDF((1L, "a", "alpha bravo charlie delta"))
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store")
      // a thread launching jobs in a job group of its own, from before
      // the trigger starts until after it ends
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val started = new java.util.concurrent.CountDownLatch(1)
      val noise = new Thread(() => {
        spark.sparkContext.setJobGroup("graft-noise", "noise")
        while (!stop.get) { spark.range(8).count(); started.countDown() }
      })
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          groups.add(Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse("")); ()
        }
      }
      val log = new RefreshPipeline.DrainLog
      withCaches(prior, prior.limit(0)) { caches =>
        noise.start()
        started.await()
        spark.sparkContext.addSparkListener(listener)
        try trigger(docsDF(
            (5L, "a", "echo foxtrot golf hotel"),
            (6L, "b", "india juliet kilo lima")), 0L, caches, base,
            log = Some(log))
        finally {
          org.apache.spark.sql.graftglue.GraftGlue
            .drainListenerBus(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          stop.set(true)
          noise.join()
        }
      }
      import scala.jdk.CollectionConverters._
      val all = groups.asScala.toSeq
      val own = all.count(_ != "graft-noise")
      assert(own > 0 && all.size > own,
        s"no job of the other group overlapped the trigger: $all")
      assert(log.rows.map(_.jobs) == Seq(own), log.rows)
    } finally rmTree(base)
  }

  test("a DrainLog on a streamed run gets a row per trigger under the " +
      "streaming engine's job group") {
    val base = java.nio.file.Files.createTempDirectory("graft_rps_")
    try {
      val prior = docsDF((1L, "a", "alpha bravo charlie delta"))
      ShardSink.append(spark,
        prior.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", 16, "source", s"$base/store")
      StagedDrops.stageAll(Seq(
        docsDF((5L, "a", "echo foxtrot golf hotel"),
          (6L, "b", "india juliet kilo lima")),
        docsDF((7L, "a", "echo foxtrot golf hotel"),
          (8L, "b", "mike november oscar papa"))), s"$base/in")
      val log = new RefreshPipeline.DrainLog
      RefreshPipeline.run(StagedDrops.open(spark, s"$base/in"), prior,
        prior.limit(0), s"$base/store", s"$base/ledger", s"$base/ck",
        budget = 16, log = Some(log))
      assert(log.rows.map(_.batchId) == Seq(0L, 1L), log.rows)
      // the carrier-run confirm read of trigger 1 counts in its group
      assert(log.rows.forall(r => r.jobs > 0 &&
        r.stages.values.map(_.jobs).sum <= r.jobs), log.rows)
      assert(log.rows(1).stages.get("exactledger").exists(_.jobs > 0),
        log.rows)
    } finally rmTree(base)
  }

  private def rmTree(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }
}
