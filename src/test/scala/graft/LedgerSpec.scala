package graft

import java.nio.file.Files
import graft.operators.Ledger

/** S2/D2 incremental-discovery ledger semantics. */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  test("discoverNew: anti-join vs processed set; markProcessed appends") {
    val dir = Files.createTempDirectory("ledger").toString + "/l1"
    val ledger = new Ledger(spark, dir)
    val candidates = Seq("2024-01-01", "2024-01-02", "2024-01-03").toDF("key")
    assert(ledger.discoverNew(candidates).count() == 3) // empty ledger
    ledger.markProcessed(Seq("2024-01-01", "2024-01-02").toDF("key"))
    val fresh = ledger.discoverNew(candidates).as[String].collect()
    assert(fresh.toSeq == Seq("2024-01-03"))
    // idempotent append
    ledger.markProcessed(Seq("2024-01-01").toDF("key"))
    assert(ledger.discoverNew(candidates).count() == 1)
  }

  test("discoverNew: a corrupt ledger part fails discovery, never reads " +
      "as an empty ledger") {
    val candidates = Seq("2024-01-01", "2024-01-02").toDF("key")
    def corruptPart(dir: String): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.write(java.nio.file.Paths.get(dir, "part-00000-torn.snappy.parquet"),
        "PAR1 torn write, no footer".getBytes("UTF-8"))
    }
    // the torn part alone, and beside valid marks: taking either for an
    // empty ledger would rediscover (and reload) every drop
    val alone = Files.createTempDirectory("ledger").toString + "/l3"
    corruptPart(alone)
    val beside = Files.createTempDirectory("ledger").toString + "/l4"
    new Ledger(spark, beside).markProcessed(Seq("2024-01-01").toDF("key"))
    corruptPart(beside)
    for (dir <- Seq(alone, beside))
      intercept[Exception](new Ledger(spark, dir).discoverNew(candidates).collect())
  }

  test("discoverNew: an existing ledger dir with no committed part " +
      "(empty, or only _temporary) returns every candidate") {
    val candidates = Seq("2024-01-01", "2024-01-02").toDF("key")
    val empty = Files.createTempDirectory("ledger").toString + "/l5"
    Files.createDirectories(java.nio.file.Paths.get(empty))
    // an interrupted markProcessed leaves its task output under _temporary
    val pending = Files.createTempDirectory("ledger").toString + "/l6"
    Seq("2024-01-01").toDF("key").write.parquet(pending + "/_temporary/0")
    for (dir <- Seq(empty, pending))
      assert(new Ledger(spark, dir).discoverNew(candidates).as[String]
        .collect().toSet == Set("2024-01-01", "2024-01-02"), dir)
  }

  test("discoverNew on an existing ledger: no footer, schema or distinct " +
      "job, only the broadcast of the ledger and the collect") {
    val dir = Files.createTempDirectory("ledger").toString + "/l7"
    val ledger = new Ledger(spark, dir)
    ledger.markProcessed(Seq("2024-01-01").toDF("key"))
    ledger.markProcessed(Seq("2024-01-01", "2024-01-02").toDF("key"))
    val candidates = Seq("2024-01-01", "2024-01-02", "2024-01-03").toDF("key")
    val (fresh, jobs) = jobsOf(ledger.discoverNew(candidates).collect())
    assert(fresh.map(_.getString(0)).toSeq == Seq("2024-01-03"))
    assert(jobs == 2, s"discoverNew ran $jobs jobs")
  }

  test("completable: last empty folder stays eligible (late-file rule)") {
    val dir = Files.createTempDirectory("ledger").toString + "/l2"
    val ledger = new Ledger(spark, dir)
    val cands = Seq(
      ("2024-01-01", true), ("2024-01-02", false), // empty but not last -> complete
      ("2024-01-03", false))                       // empty AND last -> stays open
      .toDF("key", "has_files")
    val done = ledger.completable(cands).as[String].collect().toSet
    assert(done == Set("2024-01-01", "2024-01-02"))
  }
}
