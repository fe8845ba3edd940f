package graft

import org.apache.spark.sql.functions._
import graft.functions.{Bpe, BpeByteVocab}
import graft.operators.Similarity
import graft.streaming.{RefreshPipeline, ShardSink, StoreFiles, StoreRoot, VectorIndexSink}

/** Size-tiered (LSM) compaction folds inside a generation: fold K
  * delta versions into a tier-1 run, K tier-1 runs into tier-2, full
  * rewrites only when a top tier fills — per-cycle fold work O(one
  * tier) instead of the generation verbs' O(current store), with the
  * SAME crash windows (run committed before the swap rename, swap
  * before the covered-source retire) and the same served answers. */
class TieredFoldSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .filter(col("text").isNotNull).limit(n)
    .select(col("doc_id"), col("source"), col("text"))
    .withColumn("__ids",
      Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))

  private def digest(df: org.apache.spark.sql.DataFrame): String =
    df.select(concat_ws("|",
        coalesce(col("source"), lit("<null>")),
        col("seq_id").cast("string"),
        col("n_tokens").cast("long").cast("string"),
        md5(Bpe.idsString(col("token_ids")))).as("p"))
      .agg(md5(concat_ws(";", sort_array(collect_list(col("p"))))))
      .collect()(0).getString(0)

  /** Seed gen0 with `slices` consecutive doc slices as v0..v(k-1) and
    * return (root, per-version digests of the merged view). */
  private def seedShard(base: java.nio.file.Path, slices: Int,
                        perSlice: Int): (String, Vector[String]) = {
    val d = docs(slices * perSlice).localCheckpoint(true)
    val ids = d.select("doc_id").as[Long].collect().sorted
    val root = s"$base/root"
    val g0 = StoreRoot.init(root)
    var snaps = Vector.empty[String]
    (0 until slices).foreach { k =>
      val lo = if (k == 0) Long.MinValue else ids(k * perSlice - 1)
      val hi = ids(math.min((k + 1) * perSlice, ids.length) - 1)
      val slice = d.filter(col("doc_id") > lo && col("doc_id") <= hi)
      if (k == 0)
        ShardSink.append(spark, slice, "__ids", "doc_id", 128,
          "source", g0)
      else
        StoreRoot.appendShard(spark, root, slice, "__ids", "doc_id",
          128, "source", version = k.toLong)
      snaps :+= digest(StoreRoot.readShard(spark, root))
    }
    org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
    (root, snaps)
  }

  test("shard tier folds: fanout-2 cascade escalates tiers, every " +
      "step serves the identical merged view, live-unit count stays " +
      "O(fanout x tiers), the floor tracks run coverage") {
    val base = java.nio.file.Files.createTempDirectory("graft_tier_")
    try {
      val (root, snaps) = seedShard(base, slices = 5, perSlice = 20)
      val dir = StoreRoot.currentDir(root)
      val full = snaps.last
      assert(ShardSink.versionCount(dir) == 5)
      // fold 1: [v0, v1] -> tier-1 run
      assert(StoreRoot.compactShardTiered(spark, root, fanout = 2))
      assert(StoreRoot.currentGen(root) == 0L) // no generation swap
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      assert(StoreRoot.floor(root).contains(1L))
      val u1 = ShardSink.liveUnits(dir)
      assert(u1.map(u => (u.tier, u.lo, u.hi)) ==
        Seq((1, 0L, 1L), (0, 2L, 2L), (0, 3L, 3L), (0, 4L, 4L)), u1)
      // fold 2: [v2, v3] -> second tier-1 run
      assert(StoreRoot.compactShardTiered(spark, root, fanout = 2))
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      val u2 = ShardSink.liveUnits(dir)
      assert(u2.map(u => (u.tier, u.lo, u.hi)) ==
        Seq((1, 0L, 1L), (1, 2L, 3L), (0, 4L, 4L)), u2)
      // fold 3: the two adjacent tier-1 runs ESCALATE to one tier-2
      assert(StoreRoot.compactShardTiered(spark, root, fanout = 2))
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      val u3 = ShardSink.liveUnits(dir)
      assert(u3.map(u => (u.tier, u.lo, u.hi)) ==
        Seq((2, 0L, 3L), (0, 4L, 4L)), u3)
      assert(StoreRoot.floor(root).contains(3L))
      // nothing foldable left at fanout 2 with one run + one delta of
      // DIFFERENT tiers -> no-op (re-delivered compaction idempotence)
      assert(!StoreRoot.compactShardTiered(spark, root, fanout = 2))
      // asOf: at/above the floor served, below refused naming the floor
      assert(digest(StoreRoot.readShard(spark, root,
        asOf = Some(3L))) == snaps(3))
      assert(digest(StoreRoot.readShard(spark, root,
        asOf = Some(4L))) == full)
      val e = intercept[IllegalStateException] {
        StoreRoot.readShard(spark, root, asOf = Some(2L))
      }
      assert(e.getMessage.contains("floor"), e.getMessage)
      // a folded version's re-delivery skips at the tiered floor
      assert(!StoreRoot.appendShard(spark, root,
        docs(10), "__ids", "doc_id", 128, "source", version = 2L))
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      // the timeline continues above the floor; the new delta is live
      assert(StoreRoot.appendShard(spark, root,
        docs(10).withColumn("doc_id", col("doc_id") + 1000000L),
        "__ids", "doc_id", 128, "source", version = 5L))
      assert(ShardSink.liveUnits(dir).size == 3)
    } finally StoreFiles.deleteRec(base.toFile)
  }

  test("shard tier crash windows: committed-unreferenced run is " +
      "ADOPTED (never redone), swap-no-retire sources are swept, " +
      "abandoned staging is cleared — every state serves the same " +
      "answer") {
    val base = java.nio.file.Files.createTempDirectory("graft_tiercw_")
    try {
      val (root, snaps) = seedShard(base, slices = 4, perSlice = 20)
      val dir = StoreRoot.currentDir(root)
      val full = snaps.last
      // window 1: fold committed as u<id>, crash before the swap —
      // begin, wait for the background fold, never finish
      val fold = StoreRoot.beginCompactShardTiered(spark, root,
        fanout = 2)
      assert(fold.isDefined && fold.get.tier == 1)
      while (!fold.get.isDone) Thread.sleep(20)
      assert(ShardSink.pendingRuns(dir).nonEmpty)
      // unreferenced: readers still serve the sources
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      assert(StoreRoot.floor(root).isEmpty)
      // the next cycle ADOPTS the committed run (swap + retire) before
      // planning its own fold
      assert(StoreRoot.compactShardTiered(spark, root, fanout = 2))
      assert(ShardSink.pendingRuns(dir).isEmpty)
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      val units = ShardSink.liveUnits(dir)
      assert(units.count(_.tier == 1) == 2, units) // adopted + own fold
      // window 2: swap-no-retire — rename u -> t manually (the swap),
      // leave the covered sources on disk
      val fold2 = StoreRoot.beginCompactShardTiered(spark, root,
        fanout = 2) // escalates the two tier-1 runs
      assert(fold2.isDefined && fold2.get.tier == 2)
      while (!fold2.get.isDone) Thread.sleep(20)
      val u = ShardSink.pendingRuns(dir).head
      java.nio.file.Files.move(u.dir.toPath,
        new java.io.File(dir, "t" + u.dir.getName.drop(1)).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // covered-but-present sources are structurally dead: the read is
      // already correct before any heal runs
      assert(ShardSink.liveUnits(dir).count(_.tier == 1) == 0)
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      val coveredDirs = StoreFiles
        .publishedDirs(dir, "t", _ => true).size
      assert(coveredDirs >= 3) // tier-2 run + its two covered tier-1s
      // window 3 setup: an abandoned staging dir from a crashed fold
      new java.io.File(dir, ".staging-u99/x").mkdirs()
      // the next begin heals both: covered sources swept, staging gone
      StoreRoot.compactShardTiered(spark, root, fanout = 2)
      assert(StoreFiles.publishedDirs(dir, "t", _ => true).size == 1)
      assert(!new java.io.File(dir, ".staging-u99").exists())
      assert(digest(StoreRoot.readShard(spark, root)) == full)
    } finally StoreFiles.deleteRec(base.toFile)
  }

  test("tiered store composes with the generation fold: a full " +
      "rewrite over runs + deltas serves the same view and resets " +
      "the unit count") {
    val base = java.nio.file.Files.createTempDirectory("graft_tierg_")
    try {
      val (root, snaps) = seedShard(base, slices = 4, perSlice = 20)
      val full = snaps.last
      assert(StoreRoot.compactShardTiered(spark, root, fanout = 2))
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      // the generation fold rewrites runs + deltas into gen1's base
      assert(StoreRoot.compactShard(spark, root))
      assert(StoreRoot.currentGen(root) == 1L)
      assert(StoreRoot.floor(root).contains(3L))
      assert(digest(StoreRoot.readShard(spark, root)) == full)
      assert(ShardSink.versionCount(StoreRoot.currentDir(root)) == 1)
    } finally StoreFiles.deleteRec(base.toFile)
  }

  test("vector tier folds: tombstone masking survives the fold in " +
      "both directions (run tombs mask the base; later live " +
      "tombstones mask run rows), re-adds inside the range serve, " +
      "asOf below the tiered floor refused") {
    val base = java.nio.file.Files.createTempDirectory("graft_tierv_")
    try {
      val emb = transform(sequence(lit(0), lit(7)),
        i => sin(col("vec_id") * 3 + i).cast("float"))
      val vecs = spark.range(0, 80).select(col("id").as("vec_id"))
        .withColumn("embedding", emb).localCheckpoint(true)
      val root = s"$base/vroot"
      Similarity.ivfPqSave(
        Similarity.ivfPqBuild(vecs.filter(col("vec_id") < 40),
          vecCol = "embedding", idCol = "vec_id", nLists = 2, m = 4,
          kCodes = 8, iterations = 2), StoreRoot.init(root))
      // b0: append 40..59; b1: tombstone 5 (base) and 45 (b0);
      // b2: re-add 45; b3: append 60..79
      assert(StoreRoot.appendVectors(spark, root, 0L,
        vecs.filter(col("vec_id") >= 40 && col("vec_id") < 60),
        idCol = "vec_id"))
      assert(StoreRoot.deleteVectors(spark, root, 1L,
        Seq(5L, 45L).toDF("vec_id")))
      assert(StoreRoot.appendVectors(spark, root, 2L,
        vecs.filter(col("vec_id") === 45L), idCol = "vec_id"))
      assert(StoreRoot.appendVectors(spark, root, 3L,
        vecs.filter(col("vec_id") >= 60), idCol = "vec_id"))
      def served(asOf: Option[Long] = None) =
        StoreRoot.readVectors(spark, root, idCol = "vec_id",
            asOf = asOf)
          .encoded.select("vec_id").as[Long].collect().toSet
      val want = served()
      assert(!want.contains(5L) && want.contains(45L) &&
        want.size == 79)
      val want2 = served(Some(2L))
      // fold [b0, b1] into a tier-1 run: 45 dies INSIDE the range, 5's
      // tombstone must ride along to keep masking the base
      assert(StoreRoot.compactVectorsTiered(spark, root, fanout = 2))
      assert(StoreRoot.floor(root).contains(1L))
      assert(VectorIndexSink.batchCount(StoreRoot.currentDir(root)) == 3)
      assert(served() == want)
      assert(served(Some(2L)) == want2) // re-add visible at its asOf
      intercept[IllegalStateException] { served(Some(0L)) }
      // re-delivered arms at/below the floor skip through the root
      assert(!StoreRoot.appendVectors(spark, root, 0L,
        vecs.filter(col("vec_id") >= 40 && col("vec_id") < 60),
        idCol = "vec_id"))
      assert(!StoreRoot.deleteVectors(spark, root, 1L,
        Seq(5L).toDF("vec_id")))
      assert(served() == want)
      // a LATER live tombstone masks rows inside the run
      assert(StoreRoot.deleteVectors(spark, root, 4L,
        Seq(44L).toDF("vec_id")))
      assert(served() == want - 44L)
      // escalate: fold [run(0..1), b2] -> tier-2; then the full
      // generation fold still composes on top
      assert(StoreRoot.compactVectorsTiered(spark, root, fanout = 2))
      assert(served() == want - 44L)
      assert(StoreRoot.compactVectors(spark, root))
      assert(StoreRoot.currentGen(root) == 1L &&
        served() == want - 44L)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(vecs)
    } finally StoreFiles.deleteRec(base.toFile)
  }

  test("runManaged(tierFanout): the tiered drain serves the plain " +
      "drain's answers bit-identically, never swaps a generation, and " +
      "logs tier-tagged fold events") {
    val base = java.nio.file.Files.createTempDirectory("graft_tierm_")
    try {
      val emb = transform(sequence(lit(0), lit(7)),
        i => sin(col("doc_id") * 3 + i).cast("float"))
      val d = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("text").isNotNull).limit(200)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(true)
      val prior = d.filter(col("doc_id") % 3 =!= 0)
      val newDocs = d.filter(col("doc_id") % 3 === 0)
      val benchmark = prior.filter(col("doc_id") % 17 === 3)
      val maxId = newDocs.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val cuts = (0 to 4).map(k => maxId * k / 4)
      def dropFiles(dir: String): Unit = (0 until 4).foreach { k =>
        val part = newDocs.filter(
          col("doc_id") > cuts(k) - (if (k == 0) 1 else 0)
            && col("doc_id") <= cuts(k + 1))
        val tmp = s"$base/tmp$dir$k"
        part.coalesce(1).write.parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$base/$dir/b$k.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + k * 60000L)
      }
      def stream(dir: String) = {
        val sch = spark.read.parquet(s"$base/$dir").schema
        spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .parquet(s"$base/$dir").withColumn("embedding", emb)
      }
      val priorTok = prior.withColumn("__ids",
        Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
      // unmanaged reference
      dropFiles("inA")
      ShardSink.append(spark, priorTok, "__ids", "doc_id", 512,
        "source", s"$base/store")
      Similarity.ivfPqSave(
        Similarity.ivfPqBuild(prior.withColumn("embedding", emb),
          vecCol = "embedding", idCol = "doc_id", nLists = 2, m = 4,
          kCodes = 8, iterations = 2), s"$base/ix")
      RefreshPipeline.run(stream("inA"), prior, benchmark,
        storeDir = s"$base/store", ledgerDir = s"$base/ledgerA",
        checkpointDir = s"$base/ckA", budget = 512,
        indexDir = Some(s"$base/ix"))
      val wantStore = digest(ShardSink.read(spark, s"$base/store"))
      val wantIds = VectorIndexSink.read(spark, s"$base/ix",
          idCol = "doc_id")
        .encoded.select("doc_id").as[Long].collect().toSet
      // tiered managed drain: compaction point EVERY trigger,
      // fanout 2 over (seed v0 + 4 appends) -> at least two tier folds
      dropFiles("inB")
      val sRoot = s"$base/sroot"; val iRoot = s"$base/iroot"
      ShardSink.append(spark, priorTok, "__ids", "doc_id", 512,
        "source", StoreRoot.init(sRoot))
      Similarity.ivfPqSave(
        Similarity.ivfPqBuild(prior.withColumn("embedding", emb),
          vecCol = "embedding", idCol = "doc_id", nLists = 2, m = 4,
          kCodes = 8, iterations = 2), StoreRoot.init(iRoot))
      val fl = new RefreshPipeline.DrainLog
      RefreshPipeline.runManaged(stream("inB"), prior, benchmark,
        shardRoot = sRoot, ledgerDir = s"$base/ledgerB",
        checkpointDir = s"$base/ckB", compactEvery = 1, budget = 512,
        indexRoot = Some(iRoot), log = Some(fl),
        tierFanout = Some(2))
      // tier folds never swap generations; the answers are identical
      assert(StoreRoot.currentGen(sRoot) == 0L &&
        StoreRoot.currentGen(iRoot) == 0L)
      assert(digest(StoreRoot.readShard(spark, sRoot)) == wantStore)
      assert(StoreRoot.readVectors(spark, iRoot, idCol = "doc_id")
        .encoded.select("doc_id").as[Long].collect().toSet == wantIds)
      // tier-tagged fold telemetry: every begun fold finished, at
      // least one shard fold ran at tier >= 1
      assert(fl.drained && fl.begun >= 1, fl.events)
      assert(fl.events.exists(e =>
        e.kind == "begun" && e.root == sRoot && e.tier >= 1), fl.events)
      // the stores hold runs, and fewer live units than triggers
      assert(ShardSink.liveUnits(StoreRoot.currentDir(sRoot))
        .exists(_.tier >= 1))
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
    } finally StoreFiles.deleteRec(base.toFile)
  }
}
