package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Bpe, BpeByteVocab}
import graft.operators.Similarity
import graft.streaming.ShardSink

/** The streamed drains' drop layout and shared fixture, in one place —
  * called by the drain queries in [[SparkEntry]] and by the refresh
  * tools (`RefreshScale`, `CrashHarness`).
  *
  * The reference loads each S3 drop on its own, one object per Lambda
  * run. A drain models that drop as ONE parquet file per trigger:
  *  - [[stage]] writes drop `k` as the single file
  *    `<streamDir>/b<k>.parquet`, modification time
  *    `1700000000000 + k * 60000` ms. The file is written in a scratch
  *    dir beside (never inside) the stream dir and moved in whole, so
  *    the stream never lists a partial file, a `_SUCCESS` marker or a
  *    checksum;
  *  - [[open]] reads the stream dir with `maxFilesPerTrigger = 1` and
  *    `latestFirst = false`, so the file source admits one file per
  *    trigger, oldest modification time first.
  *
  * The contract the drain oracles rely on: N staged drops drain as
  * exactly N data triggers, trigger j holding exactly the rows of the
  * j-th drop in staging order. Drops cut by [[idCuts]] are id-ordered
  * and prefix-closed, so an oracle replays trigger j's decisions from
  * the ids at or below cut j + 1. A drop staged after a drain (q174's
  * second session) carries a later modification time, so a resumed
  * stream takes it after everything the checkpoint already committed.
  */
private[graft] object StagedDrops {

  /** Stage `df` as drop `k` of the stream at `streamDir` (see the
    * object doc). Staging the same `k` twice fails loudly. */
  def stage(df: DataFrame, streamDir: String, k: Int): Unit = {
    val dir = new File(streamDir).getAbsoluteFile
    dir.mkdirs()
    val scratch = Files.createTempDirectory(dir.getParentFile.toPath,
      s"${dir.getName}-stage$k-")
    try {
      df.coalesce(1).write.parquet(s"$scratch/w")
      val f = new File(s"$scratch/w").listFiles()
        .filter(_.getName.endsWith(".parquet")) match {
          case Array(one) => one
          case fs => throw new IllegalStateException(
            s"drop $k wrote ${fs.length} parquet files, want one")
        }
      val dst = new File(dir, s"b$k.parquet")
      Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + k * 60000L)
      ()
    } finally deleteRecursively(scratch)
  }

  /** [[stage]] each frame as drops 0, 1, ... in order. */
  def stageAll(frames: Seq[DataFrame], streamDir: String): Unit =
    frames.zipWithIndex.foreach { case (df, k) => stage(df, streamDir, k) }

  /** The file-source stream over [[stage]]d drops: one drop per
    * trigger, in staging order. */
  def open(spark: SparkSession, streamDir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(streamDir).schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(streamDir)

  /** `n` id ranges over `[0, max]`: range k is `(cuts(k), cuts(k+1)]`
    * with `cuts(k) = max * k / n`, the first widened down to hold id 0,
    * so every id in `[0, max]` lies in exactly one range. */
  final case class IdCuts(cuts: IndexedSeq[Long]) {
    def n: Int = cuts.size - 1
    def range(id: Column, k: Int): Column =
      id > cuts(k) - (if (k == 0) 1 else 0) && id <= cuts(k + 1)
    def drop(df: DataFrame, idCol: String, k: Int): DataFrame =
      df.filter(range(col(idCol), k))
    def drops(df: DataFrame, idCol: String): IndexedSeq[DataFrame] =
      (0 until n).map(drop(df, idCol, _))
  }

  /** [[IdCuts]] over `df`'s `idCol`, from one collect of its min and
    * max; a negative id fails loudly (no range could hold it). */
  def idCuts(df: DataFrame, idCol: String, n: Int): IdCuts = {
    val r = df.agg(min(col(idCol)), max(col(idCol))).collect()(0)
    require(r.isNullAt(0) || r.getLong(0) >= 0L,
      s"$idCol holds a negative id ${r.get(0)}; id cuts start at 0")
    val maxId = r.getLong(1)
    IdCuts((0 to n).map(k => maxId * k / n))
  }

  /** The drains' 8-dim vector per doc, `sin(doc_id * 3 + i)`. */
  def emb: Column =
    transform(sequence(lit(0), lit(7)),
      i => sin(col("doc_id") * 3 + i).cast("float"))

  /** The drains' corpus: the fixture's non-null-text documents
    * (doc_id, source, text), checkpointed; `prior` is doc_id % 3 != 0,
    * `newDocs` the crawl drop (doc_id % 3 == 0) and `benchmark` the
    * prior's doc_id % 17 == 3 decontamination slice. `base` is the
    * drain's temp dir. */
  final case class Corpus(base: String, docs: DataFrame) {
    val prior: DataFrame = docs.filter(col("doc_id") % 3 =!= 0)
    val newDocs: DataFrame = docs.filter(col("doc_id") % 3 === 0)
    val benchmark: DataFrame = prior.filter(col("doc_id") % 17 === 3)
  }

  /** Run `body` over a [[Corpus]] built from `documents` in a fresh
    * temp dir named `prefix...`; the checkpoint is released and the
    * dir deleted after. */
  def withCorpus[A](documents: DataFrame, prefix: String)
                   (body: Corpus => A): A = {
    val base = Files.createTempDirectory(prefix)
    try {
      val d = documents.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(true)
      try body(Corpus(base.toString, d))
      finally
        org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
    } finally deleteRecursively(base)
  }

  /** Seed a drain's prior, the caller contract of
    * `RefreshPipeline.run`: the prior docs' byte-BPE shard pack at v0
    * of `storeDir` (budget 2048, sharded by `source`) and, when
    * `indexDir` is given, an IVF-PQ index base over their [[emb]]
    * vectors there. Managed callers pass `StoreRoot.init` dirs. */
  def seedPrior(prior: DataFrame, storeDir: String,
                indexDir: Option[String], nLists: Int = 4,
                kCodes: Int = 8): Unit = {
    ShardSink.append(prior.sparkSession,
      prior.withColumn("__ids",
        Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
      "__ids", "doc_id", budget = 2048, shardCol = "source",
      storeDir = storeDir)
    indexDir.foreach(ix => Similarity.ivfPqSave(
      Similarity.ivfPqBuild(prior.withColumn("embedding", emb),
        vecCol = "embedding", idCol = "doc_id", nLists = nLists, m = 4,
        kCodes = kCodes, iterations = 2),
      ix))
  }

  /** One-row canonical digest (`store_digest`) of a shard store view:
    * md5 over its sorted `source|seq_id|n_tokens|md5(token_ids)`
    * lines. */
  def storeDigest(shard: DataFrame): DataFrame =
    shard.select(concat_ws("|",
        coalesce(col("source"), lit("<null>")),
        col("seq_id").cast("string"),
        col("n_tokens").cast("long").cast("string"),
        md5(Bpe.idsString(col("token_ids")))).as("p"))
      .agg(md5(concat_ws(";",
        sort_array(collect_list(col("p"))))).as("store_digest"))

  /** The cross-store drains' output: every id `index` serves,
    * cross-joined with the [[storeDigest]] of `shard`, so one oracle
    * row set checks id-set agreement AND store content. */
  def crossStore(index: Similarity.IvfPqIndex,
                 shard: DataFrame): DataFrame =
    index.encoded.select(col("doc_id"))
      .crossJoin(broadcast(storeDigest(shard)))
      .localCheckpoint(true)

  /** In-query gate: `f` must fail with an IllegalStateException. */
  def loud(f: => Any, what: String): Unit = {
    val msg = try { f; "" } catch {
      case e: IllegalStateException => e.getMessage }
    require(msg.nonEmpty, s"$what should have failed loudly")
  }

  def deleteRecursively(base: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(base).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(p => Files.deleteIfExists(p))
  }
}
