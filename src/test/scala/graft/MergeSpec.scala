package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Merge

/** SCD1 merge family semantics (SURVEY.md §2.4; fixture coverage per
  * FIXTURES.md §A1: new key, newer, older-ignored, same-batch duplicate). */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(rows: (String, String, String)*): DataFrame =
    rows.toDF("id", "lastmodifieddate", "payload")

  private def asMap(df: DataFrame): Map[String, (String, String)] =
    df.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap

  val target = tbl(
    ("a", "2024-01-10", "a-old"),
    ("b", "2024-01-10", "b-old"),
    ("c", "2024-01-10", "c-old"))

  test("scd1: new key inserted, newer updates, older ignored") {
    val staging = tbl(
      ("a", "2024-01-20", "a-new"),   // newer -> update
      ("b", "2024-01-05", "b-stale"), // older -> ignored
      ("d", "2024-01-15", "d-new"))   // absent -> insert
    val out = asMap(Merge.scd1(target, staging, Seq("id"), "lastmodifieddate"))
    assert(out == Map(
      "a" -> ("2024-01-20", "a-new"),
      "b" -> ("2024-01-10", "b-old"),
      "c" -> ("2024-01-10", "c-old"),
      "d" -> ("2024-01-15", "d-new")))
  }

  test("scd1: same-batch duplicate keys keep latest (D3)") {
    val staging = tbl(
      ("a", "2024-01-20", "a-v1"),
      ("a", "2024-01-25", "a-v2"),
      ("a", "2024-01-22", "a-v3"))
    val out = asMap(Merge.scd1(target, staging, Seq("id"), "lastmodifieddate"))
    assert(out("a") == ("2024-01-25", "a-v2"))
  }

  test("scd1: idempotent — merging the same staging twice is a no-op") {
    val staging = tbl(("a", "2024-01-20", "a-new"), ("d", "2024-01-15", "d"))
    val once = Merge.scd1(target, staging, Seq("id"), "lastmodifieddate")
    val twice = Merge.scd1(once, staging, Seq("id"), "lastmodifieddate")
    assert(asMap(once) == asMap(twice))
  }

  test("scd1: equal ordering value does NOT update (strict >)") {
    val staging = tbl(("a", "2024-01-10", "a-echo"))
    val out = asMap(Merge.scd1(target, staging, Seq("id"), "lastmodifieddate"))
    assert(out("a") == ("2024-01-10", "a-old"))
  }

  /** The earlier form of [[Merge.scd1]], kept as the reference: keep-latest,
    * a [[Merge.delta]] left-outer join, a left-anti join of the target on
    * the delta's keys, then a union — the target is scanned three times. */
  private def referenceScd1(target: DataFrame, staging: DataFrame,
                            keys: Seq[String], ordering: String): DataFrame = {
    val d = Merge.delta(target, Merge.keepLatest(staging, keys, ordering),
      keys, ordering)
    target.join(d.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(d.select(target.columns.map(col): _*))
  }

  /** A seeded target (one row per non-null key; rows with a null key part
    * repeat) and staging batch (in-batch duplicates) over a small key and
    * ordering domain, so every case the merge rule distinguishes occurs:
    * null orderings on either side, equal orderings, null keys. A row's
    * payload is a function of its side, key and ordering, so keep-latest's
    * choice among equal-ordering duplicates cannot change the result. */
  private def generated(seed: Long, twoKeys: Boolean): (DataFrame, DataFrame) = {
    val r = new scala.util.Random(seed)
    def ord(): String =
      if (r.nextInt(6) == 0) null else f"2024-01-${1 + r.nextInt(4)}%02d"
    def key(): (String, Integer) = (
      if (r.nextInt(12) == 0) null else "k" + r.nextInt(40),
      if (!twoKeys) Int.box(0)
      else if (r.nextInt(12) == 0) null else Int.box(r.nextInt(3)))
    def rows(n: Int, side: String) = Seq.fill(n) {
      val (k1, k2) = key(); val o = ord()
      (k1, k2, o, s"$side:$k1:$k2:$o")
    }
    val targetRows = rows(90, "t").groupBy(x => (x._1, x._2)).toSeq.flatMap {
      case ((k1, k2), vs) => if (k1 == null || k2 == null) vs else vs.take(1)
    }
    def df(rs: Seq[(String, Integer, String, String)]) =
      rs.toDF("k1", "k2", "lastmodifieddate", "payload")
    (df(targetRows), df(rows(120, "s")))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("scd1: one full-outer join gives the rows of the earlier " +
      "delta + anti-join + union form on generated inputs") {
    for (twoKeys <- Seq(false, true); seed <- 1L to 3L) {
      val keys = if (twoKeys) Seq("k1", "k2") else Seq("k1")
      val (t, st) = generated(seed, twoKeys)
      // the generator hits every case: null orderings on both sides, an
      // equal ordering on a matched key, in-batch duplicates, null keys
      val keyCols = keys.map(col)
      val latest = Merge.keepLatest(st, keys, "lastmodifieddate")
      val matched = t.as("t").join(latest.as("s"), keys)
      assert(t.filter(col("lastmodifieddate").isNull).count() > 0)
      assert(st.filter(col("lastmodifieddate").isNull).count() > 0)
      assert(matched.filter(col("t.lastmodifieddate") ===
        col("s.lastmodifieddate")).count() > 0)
      assert(matched.filter(col("t.lastmodifieddate").isNull).count() > 0)
      assert(st.groupBy(keyCols: _*).count().filter(col("count") > 1)
        .count() > 0)
      assert(st.filter(keyCols.map(_.isNull).reduce(_ || _)).count() > 0)
      assert(t.filter(keyCols.map(_.isNull).reduce(_ || _)).count() > 1)
      val got = Merge.scd1(t, st, keys, "lastmodifieddate")
      assert(got.columns.toSeq == t.columns.toSeq)
      assert(sortedRows(got) ==
        sortedRows(referenceScd1(t, st, keys, "lastmodifieddate")),
        s"seed $seed, keys $keys")
    }
  }

  test("scd1 plan: a parquet target is scanned once") {
    val dir = java.nio.file.Files.createTempDirectory("scd1scan").toString + "/t"
    target.write.parquet(dir)
    val staging = tbl(("a", "2024-01-20", "a-new"), ("d", "2024-01-15", "d"))
    def scans(df: DataFrame): Int =
      "FileScan parquet".r.findAllMatchIn(
        df.queryExecution.executedPlan.toString).size
    val t = spark.read.parquet(dir)
    assert(scans(Merge.scd1(t, staging, Seq("id"), "lastmodifieddate")) == 1)
    // the earlier form scans it three times: the anti-join's left side,
    // and the delta under both the anti-join and the union
    assert(scans(referenceScd1(t, staging, Seq("id"), "lastmodifieddate")) == 3)
  }

  test("scd1Partitioned on an existing target: 6 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("pmergejobs").toString + "/t"
    Seq(("a", "2024-01-01", "2024-01-10", "a-old"),
        ("b", "2024-01-02", "2024-01-10", "b-old"))
      .toDF("id", "day", "lastmodifieddate", "payload")
      .write.partitionBy("day").parquet(dir)
    val staging = Seq(("a", "2024-01-01", "2024-01-20", "a-new"),
        ("c", "2024-01-02", "2024-01-15", "c-new"))
      .toDF("id", "day", "lastmodifieddate", "payload")
    // the touched-partition collect (a map stage and a result job), the
    // target's schema inference, one map stage per side of the merge join
    // and the write
    val (_, jobs) = jobsOf(Merge.scd1Partitioned(dir, staging, Seq("id"),
      "lastmodifieddate", "day"))
    assert(jobs == 6, s"scd1Partitioned ran $jobs jobs")
  }

  test("appendIfAbsent: existing keys never updated, new keys appended") {
    val staging = tbl(
      ("a", "2024-02-01", "a-SHOULD-NOT-APPEAR"),
      ("e", "2024-02-01", "e-new"),
      ("e", "2024-02-05", "e-dup"))
    val out = Merge.appendIfAbsent(target, staging, Seq("id"),
      "lastmodifieddate", Seq(col("payload")))
    assert(out.count() == 4)
    val m = asMap(out)
    assert(m("a") == ("2024-01-10", "a-old"))
    assert(m("e") == ("2024-02-01", "e-new")) // earliest wins, deterministic
  }

  test("scd1Partitioned: merges in place, untouched partitions not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge").toString + "/t"
    def row(id: String, d: String, lm: String, p: String) = (id, d, lm, p)
    Seq(row("a", "2024-01-01", "2024-01-10", "a-old"),
        row("b", "2024-01-02", "2024-01-10", "b-old"))
      .toDF("id", "day", "lastmodifieddate", "payload")
      .write.partitionBy("day").parquet(dir)
    def files(day: String) =
      new java.io.File(s"$dir/day=$day").listFiles().map(_.getName).toSet
    val before = files("2024-01-02")

    val staging = Seq(
      row("a", "2024-01-01", "2024-01-20", "a-new"),  // update in-place
      row("c", "2024-01-01", "2024-01-15", "c-new"))  // insert same partition
      .toDF("id", "day", "lastmodifieddate", "payload")
    Merge.scd1Partitioned(dir, staging, Seq("id"), "lastmodifieddate", "day")

    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("id") ->
        (r.getAs[String]("lastmodifieddate"), r.getAs[String]("payload"))).toMap
    assert(out == Map(
      "a" -> ("2024-01-20", "a-new"),
      "b" -> ("2024-01-10", "b-old"),
      "c" -> ("2024-01-15", "c-new")))
    assert(files("2024-01-02") == before) // untouched partition left alone
  }

  test("scd1Partitioned: NULL partition values merge, never clobber") {
    // isin(touched) never matches NULL — without null-safe pruning the
    // existing rows of the null partition are excluded from the merge and
    // dynamic overwrite rewrites __HIVE_DEFAULT_PARTITION__ staging-only
    val dir = java.nio.file.Files.createTempDirectory("pmergenull").toString + "/t"
    Seq(("a", null, "2024-01-10", "a-old"),
        ("n", null, "2024-01-10", "n-old"),     // must survive
        ("b", "2024-01-02", "2024-01-10", "b-old"))
      .toDF("id", "day", "lastmodifieddate", "payload")
      .write.partitionBy("day").parquet(dir)
    val staging = Seq(
      ("a", null, "2024-01-20", "a-new"),        // update in null partition
      ("c", null, "2024-01-15", "c-new"))        // insert in null partition
      .toDF("id", "day", "lastmodifieddate", "payload")
    Merge.scd1Partitioned(dir, staging, Seq("id"), "lastmodifieddate", "day")
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("payload")).toMap
    assert(out == Map("a" -> "a-new", "n" -> "n-old",
      "b" -> "b-old", "c" -> "c-new"))
  }

  test("scd1Bucketed: merges correctly; bucketed tables join exchange-free") {
    val name = "bmerge_target"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Merge.scd1Bucketed(name, target, Seq("id"), "lastmodifieddate",
      nBuckets = 4)
    val staging = tbl(
      ("a", "2024-01-20", "a-new"),   // newer -> update
      ("d", "2024-01-15", "d-new"))   // absent -> insert
    Merge.scd1Bucketed(name, staging, Seq("id"), "lastmodifieddate",
      nBuckets = 4)
    val out = asMap(spark.table(name))
    assert(out == Map(
      "a" -> ("2024-01-20", "a-new"),
      "b" -> ("2024-01-10", "b-old"),
      "c" -> ("2024-01-10", "c-old"),
      "d" -> ("2024-01-15", "d-new")))
    // the point of the bucketing: a key-equi self-join of the bucketed
    // table plans with ZERO exchanges — at 100 TB neither side reshuffles.
    // (disable auto-broadcast: a big-big join is the scenario bucketing
    // exists for; the test table is tiny so the planner would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(name).as("x")
        .join(spark.table(name).select(col("id"),
          col("payload").as("p2")).as("y"), Seq("id"))
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        j.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql(s"DROP TABLE $name")
  }

  test("scd1Bucketed plan: the target's bucketed scan feeds the merge " +
      "join with no exchange, and the batch is shuffled once, at shuffle " +
      "partitions below and above the bucket count (broadcast off)") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val name = "bmerge_plan"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Merge.scd1Bucketed(name, target, Seq("id"), "lastmodifieddate",
      nBuckets = 8)
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      p +: p.children.toSeq.flatMap(nodes)
    def exchanges(p: SparkPlanInfo): Int =
      nodes(p).count(_.nodeName == "Exchange")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    for ((partitions, batch) <- Seq(
        "4" -> tbl(("a", "2024-01-20", "a-new")),
        "16" -> tbl(("d", "2024-01-15", "d-new")))) {
      // every plan the merge's write runs, the adaptive re-plans included
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case x: SparkListenerSQLExecutionStart => plans.add(x.sparkPlanInfo); ()
          case x: SparkListenerSQLAdaptiveExecutionUpdate =>
            plans.add(x.sparkPlanInfo); ()
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        Merge.scd1Bucketed(name, batch, Seq("id"), "lastmodifieddate",
          nBuckets = 8)
        org.apache.spark.sql.graftglue.GraftGlue
          .drainListenerBus(spark.sparkContext)
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
      }
      val joins = plans.toArray(Array.empty[SparkPlanInfo]).toSeq
        .flatMap(nodes).filter(n => n.nodeName == "SortMergeJoin" &&
          n.simpleString.contains("FullOuter"))
      assert(joins.nonEmpty, s"no full-outer sort-merge join planned ($partitions)")
      for (j <- joins) {
        val (targetSide, batchSide) = j.children.toSeq.partition(c =>
          nodes(c).exists(n => n.simpleString.contains(name) &&
            n.simpleString.contains("Bucketed: true")))
        assert(targetSide.size == 1, (partitions, j.children.map(_.simpleString)))
        assert(exchanges(targetSide.head) == 0,
          (partitions, nodes(targetSide.head).map(_.nodeName)))
        assert(exchanges(batchSide.head) == 1,
          (partitions, nodes(batchSide.head).map(_.nodeName)))
      }
    }
    assert(asMap(spark.table(name)) == Map(
      "a" -> ("2024-01-20", "a-new"), "b" -> ("2024-01-10", "b-old"),
      "c" -> ("2024-01-10", "c-old"), "d" -> ("2024-01-15", "d-new")))
    spark.sql(s"DROP TABLE $name")
  }

  test("scd1Bucketed: recovers from both interrupted-swap crash states") {
    val name = "bmerge_crash"
    val tmp = name + "__merge_tmp"
    def cleanup(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
    }
    cleanup()
    // crash AFTER DROP, before RENAME: only tmp exists and holds the
    // committed merge -> next run must adopt it, not rebuild from staging
    Merge.scd1Bucketed(tmp, target, Seq("id"), "lastmodifieddate", 4)
    Merge.scd1Bucketed(name, tbl(("d", "2024-01-15", "d-new")),
      Seq("id"), "lastmodifieddate", 4)
    assert(asMap(spark.table(name)) == Map(
      "a" -> ("2024-01-10", "a-old"), "b" -> ("2024-01-10", "b-old"),
      "c" -> ("2024-01-10", "c-old"), "d" -> ("2024-01-15", "d-new")))
    // crash BEFORE DROP: both exist; tmp never committed -> discarded,
    // target intact, the new merge applies on the real target
    spark.table(name).limit(1)
      .write.bucketBy(4, "id").sortBy("id").mode("overwrite")
      .format("parquet").saveAsTable(tmp) // stale leftover tmp
    Merge.scd1Bucketed(name, tbl(("a", "2024-01-20", "a-new")),
      Seq("id"), "lastmodifieddate", 4)
    val out = asMap(spark.table(name))
    assert(out("a") == (("2024-01-20", "a-new")) && out.size == 4)
    assert(!spark.catalog.tableExists(tmp))
    cleanup()
  }

  test("conditional: update only when the tracked column changed (M3/J5)") {
    val goalsTarget = Seq(("e1", "2024-W1", 10), ("e2", "2024-W1", 20))
      .toDF("email", "week", "goal")
    val staging = Seq(
      ("e1", "2024-W1", 10),  // unchanged -> no-op
      ("e2", "2024-W1", 25),  // changed -> update
      ("e3", "2024-W1", 30))  // new -> insert
    .toDF("email", "week", "goal")
    val out = Merge.conditional(goalsTarget, staging, Seq("email", "week"),
      (st, _) => col("s.goal") =!= col("t.goal"))
    val m = out.collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(m == Map("e1" -> 10, "e2" -> 25, "e3" -> 30))
  }

  test("delta: pre-filter keeps only new-or-newer rows (J1)") {
    val staging = tbl(
      ("a", "2024-01-20", "newer"), ("b", "2024-01-01", "older"),
      ("z", "2024-01-01", "new"))
    val d = Merge.delta(target, staging, Seq("id"), "lastmodifieddate")
    assert(d.select("id").as[String].collect().toSet == Set("a", "z"))
  }

  test("keepLatest: tiebreak column decides equal orderings") {
    val df = Seq(("a", "2024-01-10", 1, "first"), ("a", "2024-01-10", 2, "second"))
      .toDF("id", "lastmodifieddate", "seq", "payload")
    val out = Merge.keepLatest(df, Seq("id"), "lastmodifieddate", Seq(col("seq")))
    assert(out.select("payload").as[String].collect().toSeq == Seq("second"))
  }

  test("snapshotDiff: added/removed/changed/unchanged, null-safe content, " +
      "normalization-insensitive") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, null.asInstanceOf[String]), (5L, "Same  Words"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "alpha"),            // unchanged
      (3L, "gamma EDIT"),                  // changed
      (4L, null.asInstanceOf[String]),     // NULL on both sides: unchanged
      (5L, "same words"),                  // normalization-equal: unchanged
      (6L, "fresh"))                       // added; 2 is removed
      .toDF("doc_id", "text")
    val out = Merge.snapshotDiff(old, nw, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "removed", 3L -> "changed",
      4L -> "unchanged", 5L -> "unchanged", 6L -> "added"))
  }
}
