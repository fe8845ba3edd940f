package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.{StoreFiles, StoreRoot, VectorIndexSink}

/** Streaming vector ingest: batchId-keyed exactly-once deltas under
  * frozen codebooks compose to the in-memory append; re-delivery and
  * stop/resume never duplicate; compaction preserves the served view. */
class VectorIndexSinkSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat)))
    .toDF("vec_id", "embedding")

  private def encSet(df: org.apache.spark.sql.DataFrame) = df
    .select(col("vec_id").cast("long"), col("__list").cast("int"),
      col("codes"))
    .as[(Long, Int, Array[Int])].collect()
    .map(e => (e._1, e._2, e._3.toSeq)).toSet

  private def rmTree(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  private def range(lo: Long, hi: Long) =
    corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)

  private def ids(i: Similarity.IvfPqIndex): Set[Long] =
    i.encoded.select("vec_id").as[Long].collect().toSet

  test("exactly-once appendBatch: a re-delivered batchId is a no-op; " +
      "stream drains across stop/resume compose to the in-memory append") {
    val base = java.nio.file.Files.createTempDirectory("graft_vsinkspec_")
    try {
      val all = corpus
      val prior = all.filter(col("vec_id") % 5 =!= 0)
      val b1 = all.filter(col("vec_id") % 5 === 0 && col("vec_id") < 20)
      val b2 = all.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 20)
      val idx = Similarity.ivfPqBuild(prior, nLists = 3, m = 2,
        kCodes = 4, iterations = 2)
      Similarity.ivfPqSave(idx, base.toString)
      // direct appendBatch: first publish wins, re-delivery is a no-op
      assert(VectorIndexSink.appendBatch(spark, base.toString, 7L, b1))
      assert(!VectorIndexSink.appendBatch(spark, base.toString, 7L, b1))
      assert(encSet(VectorIndexSink.read(spark, base.toString).encoded)
        == encSet(Similarity.ivfPqAppend(idx, b1).encoded))
      // the streaming path resumes from committed offsets: two drains
      // against one checkpoint, second adds only b2 (batchId advances,
      // so the delta lands beside the manual b7 without collision)
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Array[Float])]
      val stream = mem.toDF().toDF("vec_id", "embedding")
      mem.addData(b2.as[(Long, Array[Float])].collect().toSeq: _*)
      VectorIndexSink.run(stream, base.toString, s"$base/ck")
      VectorIndexSink.run(stream, base.toString, s"$base/ck") // re-drain:
      // nothing uncommitted -> no new delta, no duplicates
      val served = VectorIndexSink.read(spark, base.toString)
      val want = Similarity.ivfPqAppend(idx, b1.unionByName(b2))
      assert(encSet(served.encoded) == encSet(want.encoded))
      // frozen codebooks all the way down
      assert(served.coarse.map(_.toSeq).toSeq ==
        idx.coarse.map(_.toSeq).toSeq)
      // compaction folds base + deltas into one fresh index, same view
      VectorIndexSink.compact(spark, base.toString, s"$base/compacted")
      val folded = Similarity.ivfPqLoad(spark, s"$base/compacted")
      assert(encSet(folded.encoded) == encSet(want.encoded))
      // ...and probes over streamed vs in-memory agree exactly
      def serve(i: Similarity.IvfPqIndex) =
        Similarity.ivfPqQuery(i, all.filter(col("vec_id") < 2), k = 4,
            nProbe = 3)
          .select("probe_id", "neighbor_id", "rank", "adc_dist")
          .as[(Long, Long, Long, Long)].collect().toSet
      assert(serve(served) == serve(want))
    } finally rmTree(base)
  }

  test("deleteBatch: batch-ordered tombstones mask base and earlier " +
      "appends, later re-adds serve, compaction erases physically") {
    val base = java.nio.file.Files.createTempDirectory("graft_vdel_")
    try {
      val all = corpus
      val prior = all.filter(col("vec_id") % 5 =!= 0)
      val batch = all.filter(col("vec_id") % 5 === 0)
      val idx = Similarity.ivfPqBuild(prior, nLists = 3, m = 2,
        kCodes = 4, iterations = 2)
      Similarity.ivfPqSave(idx, base.toString)
      assert(VectorIndexSink.appendBatch(spark, base.toString, 0L, batch))
      // delete ids from BOTH provenances: 7 (base) and 10 (append b0)
      val dead = Seq(7L, 10L).toDF("vec_id")
      assert(VectorIndexSink.deleteBatch(spark, base.toString, 1L, dead))
      assert(!VectorIndexSink.deleteBatch(spark, base.toString, 1L, dead))
      val served = VectorIndexSink.read(spark, base.toString)
      val ids = served.encoded.select("vec_id").as[Long].collect().toSet
      assert(ids == (0L until 40L).toSet -- Set(7L, 10L))
      // codebooks untouched by deletion
      assert(served.coarse.map(_.toSeq).toSeq ==
        idx.coarse.map(_.toSeq).toSeq)
      // surviving rows are bit-identical to the undeleted view
      assert(encSet(served.encoded) ==
        encSet(Similarity.ivfPqAppend(idx, batch).encoded)
          .filterNot(r => r._1 == 7L || r._1 == 10L))
      // a LATER append re-adds id 10: the remove-then-add ordering —
      // the tombstone (d1) masks only appends published at or before
      // it, so the b2 row serves
      val readd = all.filter(col("vec_id") === 10L)
      assert(VectorIndexSink.appendBatch(spark, base.toString, 2L, readd))
      val served2 = VectorIndexSink.read(spark, base.toString)
      val ids2 = served2.encoded.select("vec_id").as[Long].collect()
      assert(ids2.count(_ == 10L) == 1) // re-added once, not doubled
      assert(ids2.toSet == (0L until 40L).toSet - 7L)
      // describe: one row per arm with its compaction debt — base
      // (32 rows, id 7 masked), append b0 (8 rows, id 10 masked),
      // re-add b2 (1 row, NOT masked: d1 < b2), tombstone d1 (2 ids)
      val desc = VectorIndexSink.describe(spark, base.toString)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(desc(("base", -1L)) == ((32L, 1L)))
      assert(desc(("append", 0L)) == ((8L, 1L)))
      assert(desc(("append", 2L)) == ((1L, 0L)))
      assert(desc(("tombstone", 1L)) == ((2L, 0L)))
      // as-of snapshots: the delta layout replays any point of the
      // batch sequence — after the append (deletes invisible), after
      // the tombstone (masked), after the re-add (current view) — and
      // published batches are immutable, so each asOf is stable
      def idsAsOf(b: Long) =
        VectorIndexSink.read(spark, base.toString, asOf = Some(b))
          .encoded.select("vec_id").as[Long].collect().toSet
      assert(idsAsOf(0L) == (0L until 40L).toSet)
      assert(idsAsOf(1L) == (0L until 40L).toSet -- Set(7L, 10L))
      assert(idsAsOf(2L) == (0L until 40L).toSet - 7L)
      // compaction: physical erasure of masked rows, re-add preserved,
      // fresh layout carries no tombstones
      VectorIndexSink.compact(spark, base.toString, s"$base/c")
      assert(!new java.io.File(s"$base/c/tombstones").exists())
      val folded = Similarity.ivfPqLoad(spark, s"$base/c")
      assert(encSet(folded.encoded) == encSet(served2.encoded))
      assert(!folded.encoded.select("vec_id").as[Long].collect()
        .contains(7L))
      // a USED compaction target is refused loudly — ivfPqSave would
      // overwrite the base tables but leave the target's stale
      // appends/tombstones beside the fresh fold (the alternating-
      // two-dirs pattern): base itself has appends, so it must throw
      intercept[IllegalArgumentException] {
        VectorIndexSink.compact(spark, s"$base/c", base.toString)
      }
    } finally rmTree(base)
  }

  test("describe is ONE aggregation job, not a per-arm driver loop") {
    val base = java.nio.file.Files.createTempDirectory("graft_vdesc_")
    try {
      val all = corpus
      val idx = Similarity.ivfPqBuild(all.filter(col("vec_id") < 30),
        nLists = 3, m = 2, kCodes = 4, iterations = 2)
      Similarity.ivfPqSave(idx, base.toString)
      VectorIndexSink.appendBatch(spark, base.toString, 0L,
        all.filter(col("vec_id") >= 30 && col("vec_id") < 35))
      VectorIndexSink.appendBatch(spark, base.toString, 2L,
        all.filter(col("vec_id") >= 35))
      VectorIndexSink.deleteBatch(spark, base.toString, 1L,
        all.filter(col("vec_id").isin(2L, 31L, 36L)).select("vec_id"))
      val actions = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case _: org.apache.spark.sql.execution.ui
                  .SparkListenerSQLExecutionStart =>
              actions.incrementAndGet(); ()
            case _ => ()
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val desc =
        try {
          val d = VectorIndexSink.describe(spark, base.toString).collect()
          org.apache.spark.sql.graftglue.GraftGlue
            .drainListenerBus(spark.sparkContext)
          d
        } finally spark.sparkContext.removeSparkListener(listener)
      // ONE action end-to-end (AQE may split it into sub-jobs, which is
      // scheduling, not extra passes): the old shape was a driver loop
      // of 2 count-actions PER ARM plus 3 codebook collects — its cost
      // grew with how overdue compaction was, exactly when describe
      // gets called
      assert(actions.get() == 1, s"describe ran ${actions.get()} actions")
      val m = desc.map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
      // base: 30 rows, id 2 masked (d1 >= base -1); b0: 5 rows, 31
      // masked (d1 >= b0); b2: 5 rows, 36 NOT masked (d1 < b2);
      // tombstone d1: 3 ids, no debt of its own
      assert(m(("base", -1L)) == ((30L, 1L)))
      assert(m(("append", 0L)) == ((5L, 1L)))
      assert(m(("append", 2L)) == ((5L, 0L)))
      assert(m(("tombstone", 1L)) == ((3L, 0L)))
    } finally rmTree(base)
  }

  test("retention: retire deletes only a covered pre-compaction index; " +
      "late loads fail loudly naming the successor") {
    val base = java.nio.file.Files.createTempDirectory("graft_vretire_")
    try {
      val ix = s"$base/ix" // successors are SIBLINGS of the index dir
      val all = corpus
      val idx = Similarity.ivfPqBuild(all.filter(col("vec_id") < 30),
        nLists = 3, m = 2, kCodes = 4, iterations = 2)
      Similarity.ivfPqSave(idx, ix)
      VectorIndexSink.appendBatch(spark, ix, 0L,
        all.filter(col("vec_id") >= 30))
      VectorIndexSink.deleteBatch(spark, ix, 1L,
        all.filter(col("vec_id") === 7L).select("vec_id"))
      // nothing names this index yet -> refused
      intercept[IllegalArgumentException] {
        VectorIndexSink.retire(ix, s"$base/c")
      }
      VectorIndexSink.compact(spark, ix, s"$base/c")
      // the source grows past the fold: retiring would destroy d2
      VectorIndexSink.deleteBatch(spark, ix, 2L,
        all.filter(col("vec_id") === 8L).select("vec_id"))
      val stale = intercept[IllegalArgumentException] {
        VectorIndexSink.retire(ix, s"$base/c")
      }
      assert(stale.getMessage.contains("recompact"))
      VectorIndexSink.compact(spark, ix, s"$base/c2")
      // a successor nested INSIDE the store would be destroyed by the
      // payload sweep -> the layout itself is refused
      VectorIndexSink.compact(spark, ix, s"$ix/nested")
      val nested = intercept[IllegalArgumentException] {
        VectorIndexSink.retire(ix, s"$ix/nested")
      }
      assert(nested.getMessage.contains("nested"))
      StoreFiles.deleteRec(new java.io.File(s"$ix/nested"))
      val want = encSet(Similarity.ivfPqLoad(spark, s"$base/c2").encoded)
      VectorIndexSink.retire(ix, s"$base/c2")
      // payload gone; the tombstone marker survives alone
      assert(new java.io.File(ix).listFiles()
        .map(_.getName).toSeq == Seq("_graft_retired"))
      Seq(
        () => { Similarity.ivfPqLoad(spark, ix); () },
        () => { VectorIndexSink.read(spark, ix); () },
        () => { VectorIndexSink.describe(spark, ix); () },
        () => VectorIndexSink.compact(spark, ix, s"$base/x"),
        () => { VectorIndexSink.appendBatch(spark, ix, 9L, all); () },
        () => { VectorIndexSink.deleteBatch(spark, ix, 9L,
          all.select("vec_id")); () },
        // a retired dir can never be a compaction TARGET either
        () => VectorIndexSink.compact(spark, s"$base/c2", ix),
        // double retire fails loudly (not a silent second delete)
        () => VectorIndexSink.retire(ix, s"$base/c2")
      ).foreach { f =>
        val e = intercept[IllegalStateException](f())
        assert(e.getMessage.contains("retired"))
      }
      // the successor is untouched and serves the folded view
      assert(encSet(Similarity.ivfPqLoad(spark, s"$base/c2").encoded)
        == want)
      assert(!want.exists(_._1 == 7L) && !want.exists(_._1 == 8L))
    } finally rmTree(base)
  }

  test("runCdc: upserts replace (no duplicate copies), same-trigger " +
      "delete+upsert is remove-then-add, plain deletes mask") {
    val base = java.nio.file.Files.createTempDirectory("graft_vcdc_")
    try {
      val all = corpus
      val idx = Similarity.ivfPqBuild(all, nLists = 3, m = 2,
        kCodes = 4, iterations = 2)
      Similarity.ivfPqSave(idx, base.toString)
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Array[Float], String)]
      val stream = mem.toDF().toDF("vec_id", "embedding", "op")
      def vec(i: Long) = Array.tabulate(8)(d =>
        math.sin(i * 3 + d).toFloat)
      // trigger 0: re-upsert id 3 (already in the base index — the
      // self-mask must replace it, not duplicate it) + delete id 7
      mem.addData((3L, vec(3), "upsert"), (7L, vec(7), "delete"))
      VectorIndexSink.runCdc(stream, base.toString, s"$base/ck")
      // trigger 1: delete id 5 AND upsert id 5 in the SAME trigger —
      // remove-then-add, the fresh copy serves
      mem.addData((5L, vec(5), "delete"), (5L, vec(5), "upsert"))
      VectorIndexSink.runCdc(stream, base.toString, s"$base/ck")
      val served = VectorIndexSink.read(spark, base.toString).encoded
        .select("vec_id").as[Long].collect()
      assert(served.count(_ == 3L) == 1, "re-upsert duplicated id 3")
      assert(served.count(_ == 5L) == 1,
        "same-trigger delete+upsert must serve the fresh copy once")
      assert(!served.contains(7L), "deleted id 7 still serves")
      assert(served.toSet == (0L until 40L).toSet - 7L)
      // re-drain with nothing uncommitted: no new store batches, view
      // unchanged (the exactly-once discipline across the two ticks)
      VectorIndexSink.runCdc(stream, base.toString, s"$base/ck")
      val served2 = VectorIndexSink.read(spark, base.toString).encoded
        .select("vec_id").as[Long].collect()
      assert(served2.sorted.toSeq == served.sorted.toSeq)
      // an unknown op fails LOUD (silently dropping a change record
      // would desynchronize the index); NULL op is unknown too
      mem.addData((8L, vec(8), "update"))
      val e = intercept[Exception] {
        VectorIndexSink.runCdc(stream, base.toString, s"$base/ck")
      }
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(messages(e).exists(_.contains("unknown op")))
    } finally rmTree(base)
  }

  test("a new delta with more __list dirs than Spark's parallel-listing " +
      "threshold opens with no job and serves its rows; a local probe " +
      "batch then runs 1 ADC job, or 2 jobs refined") {
    val base = java.nio.file.Files.createTempDirectory("graft_vdelta_")
    try {
      val ix = base.toString
      val all = (0L until 300L).map(i =>
          (i, Array.tabulate(8)(d => math.sin((i * 3 + d).toDouble).toFloat)))
        .toDF("vec_id", "embedding")
      def slice(lo: Long, hi: Long) =
        all.filter(col("vec_id") >= lo && col("vec_id") < hi)
      Similarity.ivfPqSave(Similarity.ivfPqBuild(slice(0L, 100L),
        nLists = 40, m = 2, kCodes = 4, iterations = 2), ix)
      VectorIndexSink.appendBatch(spark, ix, 0L, slice(100L, 200L))
      VectorIndexSink.read(spark, ix)
      VectorIndexSink.appendBatch(spark, ix, 1L, slice(200L, 300L))
      val lists = new java.io.File(s"$ix/appends/b1").listFiles()
        .count(_.getName.startsWith("__list="))
      assert(lists > 32, s"delta b1 has only $lists list dirs")
      val (idx, readJobs) = jobsOf(VectorIndexSink.read(spark, ix))
      assert(readJobs == 0, s"read after append ran $readJobs jobs")
      val opened = Seq(s"$ix/encoded", s"$ix/appends/b0", s"$ix/appends/b1")
        .map(spark.read.parquet(_)).reduce(_ unionByName _)
      assert(encSet(idx.encoded) == encSet(opened))
      assert(encSet(idx.encoded.filter(col("__list") === 7)) ==
        encSet(opened.filter(col("__list") === 7)))
      val probes = all.filter(col("vec_id") % 37 === 0)
      val (_, adcJobs) = jobsOf(
        Similarity.ivfPqQuery(idx, probes, 5, 10).collect())
      assert(adcJobs == 1, s"ivfPqQuery ran $adcJobs jobs")
      val (_, refinedJobs) = jobsOf(
        Similarity.ivfPqQueryRefined(idx, all, probes, 5, 10, 4).collect())
      assert(refinedJobs == 2, s"ivfPqQueryRefined ran $refinedJobs jobs")
    } finally rmTree(base)
  }

  test("read's arm cache: a repeat read launches no Spark job; new " +
      "deltas, in-place base appends and tombstones are all served") {
    val base = java.nio.file.Files.createTempDirectory("graft_varms_")
    try {
      val ix = base.toString
      val all = corpus
      Similarity.ivfPqSave(Similarity.ivfPqBuild(range(0L, 30L),
        nLists = 3, m = 2, kCodes = 4, iterations = 2), ix)
      VectorIndexSink.appendBatch(spark, ix, 0L, range(30L, 35L))
      def idsAsOf(b: Long) =
        ids(VectorIndexSink.read(spark, ix, asOf = Some(b)))
      val (first, firstJobs) = jobsOf(VectorIndexSink.read(spark, ix))
      assert(firstJobs > 0)
      val (again, againJobs) = jobsOf(VectorIndexSink.read(spark, ix))
      assert(againJobs == 0, s"repeat read ran $againJobs jobs")
      assert(ids(again) == ids(first) && ids(first) == (0L until 35L).toSet)
      VectorIndexSink.appendBatch(spark, ix, 1L, range(35L, 38L))
      // an asOf read below the new delta serves the old view...
      val asOf0 = idsAsOf(0L)
      // ...and the next full read opens only the new delta, from the
      // base's schema and its own listing: no job at all
      val (withB1, b1Jobs) = jobsOf(VectorIndexSink.read(spark, ix))
      assert(b1Jobs == 0, s"read after append ran $b1Jobs jobs")
      assert(ids(withB1) == (0L until 38L).toSet)
      // an asOf read keeps the newer arms it does not serve: the full
      // read right after it opens nothing
      idsAsOf(0L)
      val (_, afterAsOfJobs) = jobsOf(VectorIndexSink.read(spark, ix))
      assert(afterAsOfJobs == 0,
        s"full read after an asOf read ran $afterAsOfJobs jobs")
      // the base grows in place: its fingerprint changes and it reopens
      Similarity.ivfPqAppendSave(spark, ix, range(38L, 40L))
      assert(ids(VectorIndexSink.read(spark, ix)) == (0L until 40L).toSet)
      // a tombstone masks base and delta ids alike
      VectorIndexSink.deleteBatch(spark, ix, 2L,
        all.filter(col("vec_id").isin(3L, 31L, 36L)).select("vec_id"))
      assert(ids(VectorIndexSink.read(spark, ix)) ==
        (0L until 40L).toSet -- Set(3L, 31L, 36L))
      // asOf views are the same before and after cached reads (the base
      // carries its in-place append at every asOf)
      assert(asOf0 == (0L until 35L).toSet)
      assert(idsAsOf(0L) == asOf0 ++ Set(38L, 39L))
      assert(idsAsOf(1L) == (0L until 40L).toSet)
      assert(ids(VectorIndexSink.read(spark, ix)) ==
        (0L until 40L).toSet -- Set(3L, 31L, 36L))
    } finally rmTree(base)
  }

  test("read's arm cache serves nothing stale after a tier fold or a " +
      "compact + retire, and a retired dir still fails loudly") {
    val base = java.nio.file.Files.createTempDirectory("graft_varmfold_")
    try {
      val root = s"$base/root"
      val all = corpus
      Similarity.ivfPqSave(Similarity.ivfPqBuild(range(0L, 24L),
        nLists = 3, m = 2, kCodes = 4, iterations = 2), StoreRoot.init(root))
      (0 until 4).foreach { b =>
        StoreRoot.appendVectors(spark, root, b.toLong,
          range(24L + 4 * b, 28L + 4 * b))
      }
      StoreRoot.deleteVectors(spark, root, 4L,
        all.filter(col("vec_id").isin(1L, 25L)).select("vec_id"))
      val want = (0L until 40L).toSet -- Set(1L, 25L)
      assert(ids(StoreRoot.readVectors(spark, root)) == want)
      // a tier fold folds the oldest arms into a run and retires them
      val gen0 = StoreRoot.currentDir(root)
      assert(StoreRoot.compactVectorsTiered(spark, root, fanout = 2))
      assert(!new java.io.File(s"$gen0/appends/b0").exists())
      assert(ids(StoreRoot.readVectors(spark, root)) == want)
      // a tombstone past the fold masks a row the run now serves
      StoreRoot.deleteVectors(spark, root, 5L,
        all.filter(col("vec_id") === 26L).select("vec_id"))
      assert(ids(StoreRoot.readVectors(spark, root)) == want - 26L)
      // a generation fold: compact into gen1, swap, retire gen0
      assert(StoreRoot.compactVectors(spark, root))
      assert(StoreRoot.currentDir(root) != gen0)
      assert(ids(StoreRoot.readVectors(spark, root)) == want - 26L)
      val e = intercept[IllegalStateException] {
        VectorIndexSink.read(spark, gen0)
      }
      assert(e.getMessage.contains("retired"))
    } finally rmTree(base)
  }

  test("read's arm cache never shares a relation between sessions") {
    val base = java.nio.file.Files.createTempDirectory("graft_varmsess_")
    try {
      val ix = base.toString
      val all = corpus
      Similarity.ivfPqSave(Similarity.ivfPqBuild(
        all.filter(col("vec_id") < 30), nLists = 3, m = 2, kCodes = 4,
        iterations = 2), ix)
      VectorIndexSink.appendBatch(spark, ix, 0L,
        all.filter(col("vec_id") >= 30))
      val other = spark.newSession()
      val mine = VectorIndexSink.read(spark, ix)
      val (theirs, theirJobs) = jobsOf(VectorIndexSink.read(other, ix))
      assert(theirJobs > 0, "the second session reused the first's arms")
      assert(mine.encoded.sparkSession eq spark)
      assert(theirs.encoded.sparkSession eq other)
      assert(ids(VectorIndexSink.read(spark, ix)) == ids(theirs))
      assert(VectorIndexSink.read(other, ix).encoded.sparkSession eq other)
    } finally rmTree(base)
  }

  test("read's arm cache drops the arms of a dir that no longer exists") {
    val base = java.nio.file.Files.createTempDirectory("graft_varmgone_")
    try {
      val Seq(gone, kept) = Seq("gone", "kept").map(n => s"$base/$n")
      val built = Similarity.ivfPqBuild(range(0L, 30L),
        nLists = 3, m = 2, kCodes = 4, iterations = 2)
      Seq(gone, kept).foreach { ix =>
        Similarity.ivfPqSave(built, ix)
        VectorIndexSink.appendBatch(spark, ix, 0L, range(30L, 35L))
      }
      VectorIndexSink.read(spark, gone)
      assert(VectorIndexSink.cachedArms(gone) ==
        Set(s"$gone/encoded", s"$gone/appends/b0"))
      rmTree(java.nio.file.Paths.get(gone))
      // any later read, of any dir, lets go of the deleted dir's arms
      assert(ids(VectorIndexSink.read(spark, kept)) == (0L until 35L).toSet)
      assert(VectorIndexSink.cachedArms(gone).isEmpty)
      assert(VectorIndexSink.cachedArms(kept).size == 2)
    } finally rmTree(base)
  }
}
