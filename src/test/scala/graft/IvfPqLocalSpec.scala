package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IvfPqLocal, Similarity}
import graft.streaming.VectorIndexSink

/** The driver-planned IVF-PQ serving path (`IvfPqLocal`) against the
  * DataFrame path it stands in for: the same rows under the same schema
  * wherever it engages, and the DataFrame path wherever it must not. */
class IvfPqLocalSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long, dim: Int = 8): Array[Float] =
    Array.tabulate(dim)(d => math.sin((i * 3 + d).toDouble).toFloat)

  private def rmTree(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `call`'s frame, and whether the call ran Spark jobs: the
    * driver-planned path runs its scans when called, while the
    * DataFrame path is lazy. */
  private def served(call: => DataFrame): (DataFrame, Boolean) = {
    val (df, jobs) = jobsOf(call)
    (df, jobs > 0)
  }

  private def assertSame(local: DataFrame, byFrame: DataFrame): Unit = {
    assert(local.schema == byFrame.schema)
    val (a, b) = (rows(local), rows(byFrame))
    assert(a.nonEmpty)
    assert(a == b)
  }

  /** Every served shape on one index, local path against DataFrame
    * path: nProbe 1 and nLists, refine * k below and above what the
    * probed lists hold. */
  private def assertEquivalent(index: Similarity.IvfPqIndex,
                               corpus: DataFrame, probes: DataFrame): Unit =
    for (nProbe <- Seq(1, index.nLists); k <- Seq(3, 6)) {
      val (adc, local) = served(Similarity.ivfPqQuery(index, probes, k,
        nProbe))
      assert(local, s"nProbe $nProbe k $k: DataFrame path taken")
      assertSame(adc, Similarity.ivfPqQueryByFrame(index, probes, k, nProbe,
        "embedding", "vec_id"))
      for (refine <- Seq(1, 10)) {
        val (refined, localR) = served(Similarity.ivfPqQueryRefined(index,
          corpus, probes, k, nProbe, refine))
        assert(localR)
        assertSame(refined, Similarity.ivfPqQueryRefinedByFrame(index, corpus,
          probes, k, nProbe, refine, "embedding", "vec_id"))
      }
    }

  /** A saved index with a base, two append deltas and a tombstone:
    * ids 40 and 41 copy 7's vector (exact ADC and L2 ties), id 5 is
    * appended again with another vector (a duplicate id across arms),
    * and the tombstone masks id 3 in the base and id 31 in a delta. */
  private def withServedIndex(body: (Similarity.IvfPqIndex, DataFrame) => Unit)
      : Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_ivflocal_")
    try {
      val ix = base.toString
      def frame(r: Seq[(Long, Array[Float])]) = r.toDF("vec_id", "embedding")
      val b0 = (30L until 36L).map(i => (i, vec(i))) ++
        Seq((40L, vec(7)), (41L, vec(7)))
      val b1 = (36L until 40L).map(i => (i, vec(i))) :+ ((5L, vec(105)))
      Similarity.ivfPqSave(Similarity.ivfPqBuild(
        frame((0L until 30L).map(i => (i, vec(i)))),
        nLists = 3, m = 2, kCodes = 4, iterations = 2), ix)
      VectorIndexSink.appendBatch(spark, ix, 0L, frame(b0))
      VectorIndexSink.appendBatch(spark, ix, 1L, frame(b1))
      VectorIndexSink.deleteBatch(spark, ix, 2L,
        Seq(3L, 31L).toDF("vec_id"))
      val corpus = frame((0L until 40L).map(i => (i, vec(i))) ++ b0 ++ b1)
      body(VectorIndexSink.read(spark, ix), corpus)
    } finally rmTree(base)
  }

  test("local path == DataFrame path: base + 2 deltas + tombstone, " +
      "duplicate ids across arms, exact ties, probes in the index, " +
      "Long ids with nulls") {
    withServedIndex { (index, corpus) =>
      // probes 0, 7, 33 and 40 are in the index (never their own ADC
      // neighbor), 1000 is not; the null-vector probe is dropped and the
      // null-id probe scores nothing, on both paths
      val probes = (Seq(0L, 7L, 33L, 40L, 1000L).map(i =>
          (Option(i), Option(vec(i)))) ++
        Seq((Option(9L), None), (None, Option(vec(9)))))
        .toDF("vec_id", "embedding")
      assert(probes.schema("vec_id").nullable)
      assertEquivalent(index, corpus, probes)
      // the tie: 40 and 41 share 7's codes; probe 7 ranks them by id
      val tied = Similarity.ivfPqQuery(index, probes, 6, 3)
        .filter(col("probe_id") === 7L && col("neighbor_id").isin(40L, 41L))
        .orderBy("rank").select("neighbor_id", "adc_dist")
        .as[(Long, Long)].collect().toSeq
      assert(tied.map(_._1) == Seq(40L, 41L) && tied(0)._2 == tied(1)._2)
      // the duplicate: id 5 serves from the base and from delta b1
      val fives = Similarity.ivfPqQuery(index, probes, 40, 3)
        .filter(col("probe_id") === 0L && col("neighbor_id") === 5L).count()
      assert(fives == 2)
    }
  }

  test("local path == DataFrame path: Int id columns") {
    withServedIndex { (index, corpus) =>
      val intIndex = index.copy(
        encoded = index.encoded.withColumn("vec_id", col("vec_id").cast("int")))
      val probes = Seq(0, 7, 33, 1000).map(i => (i, vec(i.toLong)))
        .toDF("vec_id", "embedding")
      assertEquivalent(intIndex,
        corpus.withColumn("vec_id", col("vec_id").cast("int")), probes)
    }
  }

  test("the DataFrame path serves probes that are not driver-local, over " +
      "the bound, not float, with null elements or duplicate ids; a " +
      "wrong dimension fails as before") {
    withServedIndex { (index, corpus) =>
      val probes = Seq(0L, 7L, 33L, 1000L).map(i => (i, vec(i)))
        .toDF("vec_id", "embedding")
      val local = rows(Similarity.ivfPqQueryRefined(index, corpus, probes,
        4, 2, 3))
      val doubles = probes.withColumn("embedding",
        col("embedding").cast("array<double>"))
      for (other <- Seq(probes.repartition(2), doubles)) {
        val (df, isLocal) = served(Similarity.ivfPqQueryRefined(index,
          corpus, other, 4, 2, 3))
        assert(!isLocal)
        assert(rows(df) == local)
      }
      val nullElem = Seq((1L, vec(1).toSeq.map(Option(_)).updated(2, None)))
        .toDF("vec_id", "embedding")
      assert(!served(Similarity.ivfPqQuery(index, nullElem, 4, 2))._2)
      val twice = Seq((1L, vec(1)), (1L, vec(2))).toDF("vec_id", "embedding")
      assert(!served(Similarity.ivfPqQuery(index, twice, 4, 2))._2)
      val short = Seq((1L, vec(1).take(6))).toDF("vec_id", "embedding")
      val e = intercept[Exception](
        Similarity.ivfPqQuery(index, short, 4, 2).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("pq: embedding dimension != 8")))
    }
    // probes x nLists x dim: at the bound the driver plans the batch,
    // one probe over it the DataFrame path serves, with the same rows
    val dim = 128
    val nLists = 64
    val big = (0L until 128L).map(i => (i, vec(i, dim)))
      .toDF("vec_id", "embedding")
    val index = Similarity.ivfPqBuild(big, nLists = nLists, m = 2,
      kCodes = 4, iterations = 1)
    val atBound = (IvfPqLocal.Bound / (nLists * dim)).toInt
    val probeRows = (0L to atBound.toLong).map(i => (i, vec(i * 7 + 1, dim)))
    val (whole, wholeLocal) = served(Similarity.ivfPqQuery(index,
      probeRows.toDF("vec_id", "embedding"), 3, 2))
    assert(!wholeLocal)
    val (head, headLocal) = served(Similarity.ivfPqQuery(index,
      probeRows.take(atBound).toDF("vec_id", "embedding"), 3, 2))
    val (last, lastLocal) = served(Similarity.ivfPqQuery(index,
      probeRows.drop(atBound).toDF("vec_id", "embedding"), 3, 2))
    assert(headLocal && lastLocal)
    assert(rows(whole) == (rows(head) ++ rows(last)).sorted)
  }
}
