package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The drop layout the streamed drains and their oracles share: one
  * staged frame is one trigger, in staging order, and the id cuts
  * partition the id range exactly. */
class StagedDropsSpec extends SparkSpec {
  import spark.implicits._

  private def withBase[A](body: String => A): A = {
    val base = java.nio.file.Files.createTempDirectory("graft_staged_")
    try body(base.toString)
    finally StagedDrops.deleteRecursively(base)
  }

  /** Drain `streamDir` to completion; each trigger's (batchId, ids). */
  private def drain(streamDir: String,
                    ck: String): Seq[(Long, Set[Long])] = {
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[Long])]()
    StagedDrops.open(spark, streamDir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        seen.add(batchId -> batch.as[Long].collect().toSet)
        ()
      }
      .start().awaitTermination()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.sortBy(_._1)
  }

  test("N staged frames drain as exactly N triggers in staging order, " +
      "each holding exactly its frame's ids") {
    withBase { base =>
      // 12 drops: file-name order (b10 < b2) and id order (the ids
      // follow a permutation of k) both differ from staging order, so
      // only the modification times can deliver them in order
      val perm = Seq(7, 2, 11, 0, 5, 9, 1, 10, 3, 8, 6, 4)
      val frames = perm.zipWithIndex.map { case (p, k) =>
        spark.range(p * 100L, p * 100L + 1 + k % 3).toDF("id")
      }
      StagedDrops.stageAll(frames, s"$base/in")
      val triggers = drain(s"$base/in", s"$base/ck")
      val want = frames.map(_.as[Long].collect().toSet)
      assert(triggers.map(_._1) == frames.indices.map(_.toLong),
        s"trigger ids ${triggers.map(_._1)}")
      assert(triggers.map(_._2) == want)
    }
  }

  test("a drop staged after a drain is the resumed stream's next " +
      "trigger") {
    withBase { base =>
      StagedDrops.stage(spark.range(0, 3).toDF("id"), s"$base/in", 0)
      StagedDrops.stage(spark.range(3, 5).toDF("id"), s"$base/in", 1)
      assert(drain(s"$base/in", s"$base/ck").map(_._2) ==
        Seq(Set(0L, 1L, 2L), Set(3L, 4L)))
      StagedDrops.stage(spark.range(5, 6).toDF("id"), s"$base/in", 2)
      assert(drain(s"$base/in", s"$base/ck") == Seq(2L -> Set(5L)))
    }
  }

  test("no scratch file reaches the stream dir or outlives staging") {
    withBase { base =>
      StagedDrops.stageAll(Seq(spark.range(0, 4).toDF("id"),
        spark.range(4, 6).toDF("id")), s"$base/in")
      val in = new File(s"$base/in").listFiles().toSeq
      assert(in.map(_.getName).sorted == Seq("b0.parquet", "b1.parquet"))
      assert(in.forall(_.isFile))
      assert(new File(base).listFiles().map(_.getName).toSeq == Seq("in"),
        "a scratch dir was left beside the stream dir")
      val Seq(m0, m1) = in.sortBy(_.getName).map(_.lastModified)
      assert(m0 < m1)
      // the same drop twice is refused, not overwritten
      intercept[java.nio.file.FileAlreadyExistsException](
        StagedDrops.stage(spark.range(9, 10).toDF("id"), s"$base/in", 1))
    }
  }

  test("id cuts cover [min, max] with no gap or overlap, first id " +
      "included") {
    for ((lo, hi, n) <- Seq((0L, 599L, 3), (0L, 1000L, 4), (1L, 7L, 2),
        (5L, 5L, 3), (0L, 2L, 4), (3L, 2003L, 3))) {
      val ids = spark.range(lo, hi + 1).toDF("id")
      val cuts = StagedDrops.idCuts(ids, "id", n)
      assert(cuts.n == n)
      val hits = (0 until n)
        .map(k => when(cuts.range(col("id"), k), 1).otherwise(0))
        .reduce(_ + _)
      val bad = ids.filter(hits =!= 1).as[Long].collect()
      assert(bad.isEmpty, s"[$lo, $hi] / $n: ids in != 1 range: " +
        bad.take(5).mkString(","))
      assert(cuts.drops(ids, "id").map(_.count()).sum == hi - lo + 1)
      if (lo == 0L)
        assert(cuts.drop(ids, "id", 0).filter(col("id") === 0L).count()
          == 1L, "id 0 is not in drop 0")
    }
    intercept[IllegalArgumentException](
      StagedDrops.idCuts(spark.range(-1, 5).toDF("id"), "id", 2))
  }
}
