package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Coercions
import graft.operators.{Curate, Dedup, Joins, Merge, Multimodal, Relevance, Similarity}
import graft.functions.{Bpe, BpeByteVocab, BpeVocab, TextFunctions => T, VectorFunctions => V}
import graft.queries.{AgentMetrics, ConnectFixtures}
import graft.streaming.StreamingNearDup

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the north_star extension operators), with a DuckDB
  * oracle where the semantics are ANSI-SQL-expressible.
  *
  * Oracle-parity conventions (so the driver's hash compare is bit-exact):
  *  - double aggregates go through DECIMAL (exact, order-independent) and
  *    are cast back to double;
  *  - temporal outputs are formatted strings;
  *  - integer outputs are always BIGINT on both sides;
  *  - ties in any top-k / keep-latest are broken by a unique id.
  */
object SparkEntry {
  import StagedDrops.deleteRecursively

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.parquet has shipped as TIMESTAMP(NANOS) in some fixture
      // generations and TIMESTAMP(MICROS) in others; [[tsColumn]] owns
      // the branch (shared with [[streamEvents]]).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.withColumn("ts",
        tsColumn(raw.schema("ts").dataType, toSecond = false))
    } else s.read.parquet(s"$dir/$name.parquet")

  /** The events-`ts` decode shared by [[t]] and [[streamEvents]] — ONE
    * definition so the two readers cannot drift. Nanos-as-long fixture
    * generations (no native Spark type; read under the nanosAsLong conf)
    * truncate ns->us, identical to DuckDB's truncation; native timestamp
    * generations (NTZ or LTZ) cast to session-tz timestamp (session tz
    * is UTC everywhere, so values are identical). ANY other landed type
    * fails loudly — a silent cast('timestamp') on an unexpected fixture
    * generation would produce NULLs instead of a diagnosis. `toSecond`
    * additionally truncates to whole seconds (the streaming twins'
    * contract: second-granular event time keeps the state operators'
    * gap/seal arithmetic oracle-mirrorable). */
  private def tsColumn(dt: org.apache.spark.sql.types.DataType,
                       toSecond: Boolean): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val base = dt match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case TimestampNTZType | TimestampType => col("ts").cast("timestamp")
      case other => throw new IllegalStateException(
        s"events.parquet ts landed as unsupported type $other — " +
          "teach tsColumn the new fixture generation explicitly")
    }
    if (toSecond) date_trunc("second", base) else base
  }

  /** Exact, order-independent sum of a double expression. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(20,4)")).cast("double")

  /** Run a STREAMING transform end-to-end — file source already attached
    * by the caller — through a real `Trigger.AvailableNow` execution into
    * a parquet sink, read the landed table back, aggregate it with `agg`,
    * materialize, and clean up the sink/checkpoint dirs. This is the
    * correctness harness for the streaming twins: the rows the driver
    * hash-compares came out of the actual streaming engine (state store,
    * watermarks, micro-batch planner), not the batch analyzer. */
  private def streamToResult(s: SparkSession, streamed: DataFrame)
                            (agg: DataFrame => DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_")
    try {
      val q = streamed.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append").start()
      q.awaitTermination()
      // localCheckpoint so the result survives the temp-dir cleanup below
      agg(s.read.parquet(s"$base/out")).localCheckpoint(true)
    } finally deleteRecursively(base)
  }

  /** File-source stream over one fixture table with a CONSTANT event-time
    * column: every row inside one watermark window, so stream-vs-batch
    * parity is exact (no arrival-horizon truncation to reason about). */
  private def streamTable(s: SparkSession, dir: String,
                          name: String): DataFrame = {
    // the file source wants a DIRECTORY; the fixture table is one file in
    // the shared sf dir, so scope the listing with a glob filter
    val sch = s.read.parquet(s"$dir/$name.parquet").schema
    s.readStream.schema(sch).option("pathGlobFilter", s"$name.parquet")
      .parquet(dir)
      .withColumn("__ts", lit("2024-01-01 00:00:00").cast("timestamp"))
  }

  /** [[streamTable]] for the events fixture: the NANOS timestamp is read
    * as long (same conf as [[t]]) and truncated to whole SECONDS — the
    * flatMapGroupsWithState operators keep event time at millisecond
    * precision (java.sql.Timestamp), so second-granular inputs make the
    * stream's gap/seal arithmetic exactly mirrorable in oracle SQL. */
  private def streamEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = s.read.parquet(s"$dir/events.parquet").schema
    s.readStream.schema(sch).option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", tsColumn(sch("ts").dataType, toSecond = true))
  }

  /** A few-row probe batch collected into a driver-local relation, so
    * `ivfPqQueryRefined` plans it on the driver (`IvfPqLocal`, same
    * rows) instead of taking the DataFrame path a table filter takes. */
  private def localProbes(probes: DataFrame): DataFrame =
    probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(probes.collect(): _*), probes.schema)

  /** Corpus size for the synthetic ANN scale rows (q148/q153), matched
    * EXPLICITLY against the fixture dir's scale factor: bench SF (0.1)
    * gets the 100k scale-evidence corpus, the correctness SFs get the
    * seconds-bounded 20k twin. Any other SF fails loudly — a new bench
    * scale (e.g. sf1) must pick its corpus size deliberately rather
    * than silently running the 20k corpus while being reported as a
    * scale-evidence row. (The 10^6 evidence run is once-per-round via
    * `tools/`, not a bench row — at nLists=1000 the coarse assignment
    * alone is ~64G int ops per pass and would dominate every bench.) */
  private def annScaleCorpusN(dir: String): Long = {
    val name = new java.io.File(dir.replaceAll("/+$", "")).getName
    name match {
      case "sf0.1" => 100000L
      case "sf0.01" | "sf0.001" => 20000L
      case other => throw new IllegalArgumentException(
        s"ANN scale rows have no corpus size for fixture dir '$other' — "
          + "add an explicit mapping in annScaleCorpusN (refusing to "
          + "silently demote a scale-evidence row to the 20k corpus)")
    }
  }

  /** Deterministic synthetic clustered embeddings for the ANN
    * scale-stress row (q148): engine-independent seeded geometry —
    * vector(id) = center(id % nClusters) + 0.15 * noise(id), every
    * component an xxhash64-derived unit in (-1, 1) — no files, no RNG
    * state, identical across runs and partition layouts. Clustered (not
    * uniform-sphere) geometry on purpose: real embedding corpora are
    * clustered, and it is the regime where an IVF shortlist carries
    * meaning at n >= 10^5. */
  private[graft] def synthClusteredEmbeddings(s: SparkSession, n: Long, dim: Int,
                                       nClusters: Int): DataFrame = {
    def unit(tag: String, key: Column, d: Int): Column =
      (xxhash64(lit(tag), key, lit(d)) % 1000000L).cast("double") / 1e6
    val cl = col("id") % nClusters
    s.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        (unit("c", cl, d) + unit("x", col("id"), d) * 0.15)
          .cast("float")): _*).as("embedding"))
  }

  private def ymd(c: Column): Column = date_format(c, "yyyy-MM-dd")
  private def ymdhms(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss")
  private def ymdhmsUs(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Flagship query on sf=0.001 (star join + grouped aggregation). */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_star_join")(spark, "/root/testdata/sf0.001")

  /** Comma-separated name selection over [[queries]], shared by the
    * Verify and Bench mains (e.g. `FILTER=q43,q92`); unset = full suite.
    * A term matches the whole name or a `_`-boundary prefix — plain
    * startsWith would make `q10` also select q100/q101. */
  def selectQueries(envVar: String)
      : Map[String, (SparkSession, String) => DataFrame] =
    filterQueries(sys.env.get(envVar))

  private[graft] def filterQueries(spec: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
      case Some(terms) =>
        // fail loud on terms that select nothing: a typo (q999) would
        // otherwise run a silently-shrunken suite and report success
        val dead = terms.filterNot(t =>
          queries.keys.exists(n => n == t || n.startsWith(t + "_")))
        require(dead.isEmpty,
          s"filter terms match no query: ${dead.mkString(",")}")
        queries.filter { case (n, _) =>
          terms.exists(t => n == t || n.startsWith(t + "_")) }
      case None => queries
    }

  // ---- shared sub-plans for the merge family -------------------------------
  // target = latest even-day event per user; staging = odd-day events.
  private def evenTarget(e: DataFrame): DataFrame =
    Merge.keepLatest(e.filter(dayofmonth(col("ts")) % 2 === 0),
      Seq("user_id"), "ts", Seq(col("event_id")))
  private def oddStaging(e: DataFrame): DataFrame =
    e.filter(dayofmonth(col("ts")) % 2 === 1)

  private val mergeCols = Seq("user_id", "event_id", "ts", "event_type", "value")

  // q93/q94 share these between the Spark query and its oracle generator so
  // the two sides can never drift. Weights are DYADIC rationals (exact in
  // double under any summation order — Double.toString round-trips them
  // bit-exactly through DuckDB's literal parser).
  private val q93Weights: Seq[(String, Double)] = Seq(
    "spark" -> 0.25, "fast" -> 0.5, "slow" -> -0.5, "join" -> 0.125,
    "window" -> 0.125, "data" -> 0.0625, "error" -> -0.25, "the" -> -0.0625)
  private val q93Bias = -0.125
  private val q94Terms = Seq("slow", "error", "scan")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ================= reference parity: aggregation (§2.6) ================
    "q01_agg_basic" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_revenue"),
          (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }),

    "q02_conditional_buckets" -> ((s, dir) => {
      // A7 analogue: histogram with DELIBERATE gaps (SURVEY §2.6 A7)
      val v = col("value")
      t(s, dir, "events").groupBy(col("event_type")).agg(
        count(when(v.between(0, 30), 1)).as("b_0_30"),
        count(when(v.between(30, 60), 1)).as("b_30_60"),
        count(when(v.between(90, 150), 1)).as("b_90_150"),
        count(when(v.between(180, 300), 1)).as("b_180_300"),
        count(when(v.between(330, 480), 1)).as("b_330_480"),
        count(when(v > 480, 1)).as("b_over_480"),
        count(lit(1)).as("total"))
    }),

    "q03_count_distinct" -> ((s, dir) => {
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
    }),

    // ================= reference parity: joins (§2.3) ======================
    "q04_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q05_delta_join" -> ((s, dir) => {
      // J1 delta filter: new-or-newer staging rows vs target
      val e = t(s, dir, "events")
      val d = Merge.delta(
        evenTarget(e).select(mergeCols.map(col): _*),
        Merge.keepLatest(oddStaging(e), Seq("user_id"), "ts",
          Seq(col("event_id"))).select(mergeCols.map(col): _*),
        Seq("user_id"), "ts")
      d.select(col("user_id"), col("event_id"), ymdhmsUs(col("ts")).as("ts_str"),
        col("event_type"))
    }),

    "q06_scd1_merge" -> ((s, dir) => {
      // M1: full SCD1 merge; result = latest state per user
      val e = t(s, dir, "events")
      Merge.scd1(evenTarget(e).select(mergeCols.map(col): _*),
          oddStaging(e).select(mergeCols.map(col): _*),
          Seq("user_id"), "ts")
        .select(col("user_id"), col("event_id"),
          ymdhmsUs(col("ts")).as("ts_str"), col("event_type"),
          col("value"))
    }),

    "q07_append_if_absent" -> ((s, dir) => {
      // M2: immutable facts — existing keys must NOT be updated
      val e = t(s, dir, "events").select(mergeCols.map(col): _*)
      val target = Merge.keepLatest(
        e.filter(col("ts") < lit("2024-01-16")), Seq("user_id"), "ts",
        Seq(col("event_id"))) // latest first-half state
      val staging = Merge.keepLatest(e, Seq("user_id"), "ts",
        Seq(col("event_id"))) // latest overall (differs for existing users)
      Merge.appendIfAbsent(target, staging, Seq("user_id"), "ts",
          Seq(col("event_id")))
        .select(col("user_id"), col("event_id"),
          ymdhmsUs(col("ts")).as("ts_str"), col("event_type"), col("value"))
    }),

    "q08_anti_join" -> ((s, dir) => {
      // J2: customers with no recent order (anti join; filter pushed below)
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01"))
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q09_keep_latest" -> ((s, dir) => {
      // D3: keep-latest-per-key inside a batch
      Merge.keepLatest(t(s, dir, "events"), Seq("user_id"), "ts",
          Seq(col("event_id")))
        .select(col("user_id"), col("event_id"),
          ymdhmsUs(col("ts")).as("ts_str"), col("event_type"))
    }),

    // ================= reference parity: scalar battery (§2.2, §1.2) =======
    "q10_cast_battery" -> ((s, dir) => {
      val b = col("l_linenumber") % 7
      val sb = when(b === 0, "").when(b === 1, "t").when(b === 2, "True")
        .when(b === 3, "false").when(b === 4, "0").when(b === 5, "x")
        .otherwise(lit(null).cast("string"))
      val si = when(b === 0, "").when(b === 1, "42").when(b === 2, "3.5")
        .when(b === 3, "garbage").otherwise("7")
      val st = when(b === 0, "2024-01-02 03:04:05")
        .when(b === 1, "not a time").otherwise(lit(null).cast("string"))
      t(s, dir, "lineitem")
        .select(Coercions.boolTruthy(sb).cast("long").as("bt"),
          Coercions.boolWhitelist(sb).cast("long").as("bw"),
          Coercions.intCoerce(si).as("ic"),
          Coercions.tsCoerce(st).isNotNull.cast("long").as("ts_ok"),
          Coercions.emptyAsNull(when(b === 0, "  x  ").otherwise(sb))
            .as("trimmed"))
        .groupBy("bt", "bw", "ic", "ts_ok", "trimmed")
        .agg(count(lit(1)).as("cnt"))
    }),

    "q11_date_reformat" -> ((s, dir) => {
      // P5: dd/MM/yyyy -> date
      val d = Coercions.dateDmy(date_format(col("o_orderdate"), "dd/MM/yyyy"))
      t(s, dir, "orders")
        .select(d.as("od"))
        .groupBy(year(col("od")).cast("long").as("y"),
          month(col("od")).cast("long").as("m"))
        .agg(count(lit(1)).as("cnt"))
    }),

    "q12_tz_convert" -> ((s, dir) => {
      // P6: UTC -> America/New_York local string
      t(s, dir, "events")
        .groupBy(date_format(from_utc_timestamp(col("ts"), "America/New_York"),
          "yyyy-MM-dd").as("ny_date"))
        .agg(count(lit(1)).as("cnt"))
    }),

    "q13_string_funcs" -> ((s, dir) => {
      // P8/P15: concat, suffix extraction
      t(s, dir, "customer").select(
        col("c_custkey"),
        concat_ws(" ", col("c_name"), col("c_mktsegment")).as("full_name"),
        substring_index(col("c_name"), "#", -1).as("cust_num"),
        upper(col("c_mktsegment")).as("seg_upper"),
        length(col("c_name")).cast("long").as("name_len"))
    }),

    "q14_epoch_intdiv" -> ((s, dir) => {
      // P10/P17/P18/A10: epoch diff, float vs floored int division
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val diff = unix_timestamp(col("l_shipdate")) -
        unix_timestamp(col("o_orderdate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(diff).as("total_sec"),
          round(sum(diff) / 3600.0, 2).as("total_hours"),
          floor(sum(diff) / 60).cast("long").as("total_minutes"),
          (sum(diff).cast("double") / count(lit(1))).as("avg_sec"),
          count(lit(1)).as("cnt"))
    }),

    "q15_json_extract" -> ((s, dir) => {
      // P7: JSON field extraction
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
    }),

    "q16_window_tumbling" -> ((s, dir) => {
      // §2.7: tumbling event-time window (batch form)
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(ymdhms(col("window.start")).as("win_start"),
          col("event_type"), col("cnt"), col("sum_value"))
    }),

    "q17_pivot" -> ((s, dir) => {
      // A9/A11: categorical pivot with fixed value list
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    "q18_agent_view_shape" -> ((s, dir) => {
      // EP3 shape: the view_agent_metrics aggregate surface over events
      val v = col("value")
      val h = hour(col("ts"))
      t(s, dir, "events")
        .filter(col("ts").cast("date").isNotNull)
        .groupBy(ymd(col("ts")).as("d"), col("event_type"))
        .agg(
          count(lit(1)).as("total"),
          countDistinct(col("user_id")).as("uniq_users"),
          dsum(v).as("sum_value"),
          round(dsum(v) / 3600.0, 2).as("value_hours"),
          floor(dsum(v) / 60).cast("long").as("value_minutes"),
          (dsum(v) / count(v)).as("avg_value"),
          min(v).as("min_value"), max(v).as("max_value"),
          count(when(v.between(0, 30), 1)).as("small"),
          count(when(v.between(90, 150), 1)).as("medium"),
          count(when(v > 480, 1)).as("large"),
          count(when(h.between(9, 13), 1)).as("h_9_13"),
          count(when(h.between(13, 17), 1)).as("h_13_17"),
          count(when(h >= 17, 1)).as("h_17_00"))
    }),

    "q19_topk" -> ((s, dir) => {
      t(s, dir, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(100)
        .select(col("c_custkey"), col("c_acctbal"))
    }),

    // ================= extensions: text analysis ===========================
    "q21_text_stats" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        T.tokenCount(txt).cast("long").as("n_tokens"),
        T.regexTokenCount(txt).cast("long").as("n_subtokens"),
        round(T.avgTokenLen(txt), 4).as("avg_token_len"),
        round(T.alphaRatio(txt), 4).as("alpha_ratio"),
        round(T.punctRatio(txt), 4).as("punct_ratio"),
        length(txt).cast("long").as("n_chars_calc"))
    }),

    "q22_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), T.langId(col("text")).as("lang_guess"))
        .agg(count(lit(1)).as("cnt"))
    }),

    "q23_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        T.qualityScore(col("text")).as("quality"))
    }),

    "q24_fingerprint_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(T.fingerprint(col("text"))).as("n_distinct"),
        countDistinct(T.bagFingerprint(col("text"))).as("n_bag_distinct"))
    }),

    // ====== extensions: near-dup dedup (Portable hash -> DuckDB-oracled) ===
    "q25_minhash_signatures" -> ((s, dir) => {
      Dedup.minhashSignatures(t(s, dir, "documents"), "text", "doc_id",
          numHashes = 16, shingleN = 3, mode = Dedup.Portable)
        .select(col("doc_id"), col("minhash")(0).as("h0"),
          col("minhash")(1).as("h1"), col("minhash")(15).as("h15"))
    }),

    "q26_minhash_pairs" -> ((s, dir) => {
      // unigram shingles: word-salad corpus shares vocab -> pairs exist.
      // floor-based bucketing (not round): immune to .x5 rounding skew
      Dedup.minhashPairs(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "text", "doc_id", numHashes = 32, bands = 8,
          threshold = 0.3, shingleN = 1, mode = Dedup.Portable)
        .groupBy(floor(col("est_jaccard") * 10).cast("long").as("jac_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "q177_minhash_hot_bucket" -> ((s, dir) => {
      // the Zipfian-dense-class mitigation (SKEW_SCALE): maxBucket = 4
      // forces the fixture's LSH buckets past the cap, so the
      // hot-bucket representative-verify path carries detection —
      // q26's exact pair surface, with beyond-cap members verified
      // against their bucket's min-id rep instead of silently dropped
      Dedup.minhashPairs(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "text", "doc_id", numHashes = 32, bands = 8,
          threshold = 0.3, shingleN = 1, maxBucket = 4,
          mode = Dedup.Portable, hotBucketRep = true)
        .groupBy(floor(col("est_jaccard") * 10).cast("long")
          .as("jac_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "q178_hot_bucket_clusters" -> ((s, dir) => {
      // a dense class LARGER than the cap must stay ONE cluster: the
      // star around each bucket's min-id rep (hotBucketRep) is exactly
      // the connectivity connected components needs — without it the
      // cap fragments the class into bucket-sized islands, and the
      // composite consumers (semanticPrune/keepBestPerCluster) keep
      // one survivor per ISLAND instead of one per class
      val pairs = Dedup.minhashPairs(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "text", "doc_id", numHashes = 32, bands = 8,
        threshold = 0.3, shingleN = 1, maxBucket = 4,
        mode = Dedup.Portable, hotBucketRep = true)
      Dedup.clusters(pairs)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    }),

    "q27_simhash" -> ((s, dir) => {
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id",
        mode = Dedup.Portable)
    }),

    "q28_ngram_jaccard" -> ((s, dir) => {
      // floor-based bucketing: exact on doubles on both engines (ROUND at
      // 1 decimal diverges on .x5 rationals like 7/20)
      Dedup.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 1, threshold = 0.3, maxDf = 1000)
        .groupBy(floor(col("jaccard") * 10).cast("long").as("jac_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ================= extensions: similarity search =======================
    "q29_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .select(col("probe_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    "q30_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
          nBits = 8, multiprobe = 2)
        .select(col("probe_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    "q31_embedding_stats" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.select(col("label").cast("long").as("label"),
          V.norm(col("embedding")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          (sum(col("nrm").cast("decimal(18,9)")).cast("double") /
            count(lit(1))).as("avg_norm"))
    }),

    "q32_embedding_neardup" -> ((s, dir) => {
      // nBits sized to corpus (2^12 buckets), deterministic per-bucket cap
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "embedding",
          "vec_id", threshold = 0.4, nBits = 4, bands = 8, maxBucket = 64)
        .groupBy(floor(col("cos") * 10).cast("long").as("cos_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "q40_chunk_overlap" -> ((s, dir) => {
      // rolling-hash CDC fingerprints: containment detection — every doc's
      // prefix half (negated id: collision-free for any non-negative
      // corpus id space) must pair with its parent at high overlap, while
      // unrelated docs stay unpaired
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val halves = d.select((-col("doc_id") - 1).as("doc_id"),
        substring(col("text"), 1, 512).as("text"))
      Dedup.chunkOverlapPairs(d.unionByName(halves), "text", "doc_id",
          threshold = 0.5, mode = Dedup.Portable)
        .groupBy(floor(col("overlap") * 10).cast("long").as("ov_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),


    "q41_asof_join" -> ((s, dir) => {
      // as-of temporal enrichment: each click joined to the user's latest
      // signup at-or-before it (Joins.asOf: union + carry-forward, one
      // key shuffle — DuckDB's native ASOF JOIN is the oracle)
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sts"),
          col("event_id").as("sid"), col("value").as("signup_value"))
      Joins.asOf(clicks, signups, Seq("user_id"), "ts", "sts", Some("sid"))
        .select(col("event_id"), ymdhmsUs(col("ts")).as("ts_str"),
          col("sid"), col("signup_value"))
    }),

    "q38_ann_ivf" -> ((s, dir) => {
      // nProbe = nLists: every IVF mechanism executes (k-means quantizer,
      // list assignment, centroid ranking, per-list scoring) but recall is
      // exactly 1.0, so the brute-force SQL is a valid oracle. The pruned
      // (nProbe < nLists) recall trade-off is covered by the unit spec.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
          nLists = 32, nProbe = 32)
        .select(col("probe_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos_r"))
    }),

    "q113_ann_ivf_persisted" -> ((s, dir) => {
      // the cross-session serving path IN the correctness gate: build ->
      // ivfSave (parquet layout partitioned by __list) -> ivfLoad ->
      // partition-pruned probe. nProbe = nLists keeps recall exactly 1.0,
      // so the q29/q38 brute-force SQL remains a valid oracle — what's
      // new under test is the save/load round trip and the pruned scan
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ivf_")
      try {
        val idx = Similarity.ivfBuild(emb, nLists = 32, persist = false)
        Similarity.ivfSave(idx, base.toString)
        val loaded = Similarity.ivfLoad(s, base.toString)
        Similarity.ivfQuery(loaded, emb.filter(col("vec_id") < 8), k = 5,
            nProbe = 32)
          .select(col("probe_id"), col("neighbor_id"),
            col("rank").cast("long").as("rank"),
            round(col("cos"), 6).as("cos_r"))
          .localCheckpoint(true)
      } finally deleteRecursively(base)
    }),

    "q57_ann_ivf_amortized" -> ((s, dir) => {
      // the documented production IVF shape: ONE ivfBuild serving many
      // probe batches (q38 is the one-shot twin). The union of 4 batches is
      // materialized eagerly inside the timed closure, then the index cache
      // is released — nothing persists past the query.
      val emb = t(s, dir, "embeddings")
      // build vs probe timed separately (Bench "components"): the k-means
      // fit is DRIVER-side single-threaded compute — on a shared host it is
      // steal-exposed in a way the executor-side probes are not, and folding
      // both into one number made that indistinguishable (round-6 verdict)
      val tBuild = System.nanoTime()
      val idx = Similarity.ivfBuild(emb, nLists = 32)
      idx.assigned.write.format("noop").mode("overwrite").save()
      Bench.recordComponent("q57_build", (System.nanoTime() - tBuild) / 1e9)
      // the pruned SERVING pass (nProbe=8, the amortized production
      // scan shape) stays, timed as its own component — its recall<1
      // results are what the unit spec covers
      val tProbe = System.nanoTime()
      (0 until 4).map { b =>
          Similarity.ivfQuery(idx,
            emb.filter(col("vec_id") % 100 === b), k = 5, nProbe = 8)
        }.reduce(_ unionByName _)
        .write.format("noop").mode("overwrite").save()
      Bench.recordComponent("q57_probe", (System.nanoTime() - tProbe) / 1e9)
      // the ORACLED output: the SAME one-build-four-batches amortized
      // path at nProbe = nLists, where recall is exactly 1.0 and the
      // per-rank aggregate is deterministic — q38's brute-force math
      // re-aggregated over the 4 probe batches (closes the long-
      // standing "no_oracle" status of this row; every IVF mechanism
      // still executes, now hash-pinned)
      val tFull = System.nanoTime()
      val out = (0 until 4).map { b =>
          Similarity.ivfQuery(idx,
            emb.filter(col("vec_id") % 100 === b), k = 5, nProbe = 32)
        }.reduce(_ unionByName _)
        .groupBy(col("rank").cast("long").as("rank"))
        .agg(count(lit(1)).as("n"), sum(col("neighbor_id")).as("sum_neighbor"))
        .localCheckpoint(true)
      Bench.recordComponent("q57_full_probe",
        (System.nanoTime() - tFull) / 1e9)
      idx.assigned.unpersist()
      out
    }),

    "q37_simhash_pairs" -> ((s, dir) => {
      // blocks > maxDist (the pigeonhole guarantee) AND 63/4 = 15-bit
      // segments keep the blocking selective — more blocks means coarser
      // segments and quadratic bucket growth
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxDist = 3, blocks = 4, mode = Dedup.Portable)
        .groupBy(col("hamming").cast("long").as("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ========== reference parity: the REAL analytics views =================
    // Fixture f_calls + dims derived deterministically from events/range on
    // BOTH sides (ConnectFixtures in Spark, fixtureCtes in the oracle), so
    // the production view functions themselves are what's oracle-checked.
    "q35_view_agent_metrics_v1" -> ((s, dir) => {
      AgentMetrics.viewAgentMetrics(
          ConnectFixtures.fCalls(t(s, dir, "events")),
          ConnectFixtures.dimUsersConnect(s), ConnectFixtures.dimQueues(s),
          ConnectFixtures.dimUsersLitify(s))
        .withColumn("call_date", date_format(col("call_date"), "yyyy-MM-dd"))
    }),

    "q36_view_agent_metrics_v2" -> ((s, dir) => {
      AgentMetrics.viewAgentMetrics2(
          ConnectFixtures.fCalls(t(s, dir, "events")),
          ConnectFixtures.dimUsersConnect(s), ConnectFixtures.dimQueues(s),
          ConnectFixtures.dimUsersLitify(s))
        .withColumn("call_date", date_format(col("call_date"), "yyyy-MM-dd"))
    }),

    // ================= extensions: multimodal plumbing =====================


    "q142_jpeg_decode" -> ((s, dir) => {
      // LOSSY codec end-to-end: per-row JPEG encode (real JDK encoder)
      // -> ImageIO decode -> DECODER-INVARIANT fields only (decode_ok +
      // dimensions + band count; pixel values are decoder-version
      // dependent and deliberately not pinned). The oracle replays the
      // fixture's dimension formulas — a decoder that fails any payload,
      // misreads SOF dimensions, or decodes to the wrong channel count
      // fails the hash gate.
      val withJpeg = Multimodal.attachJpegPayload(
        s, t(s, dir, "documents"), "doc_id")
      Multimodal.decodeMeta(s, withJpeg, "doc_id")
        .select(col("doc_id"), col("decode_ok"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_channels").cast("long").as("n_channels"))
    }),

    "q33_multimodal_meta" -> ((s, dir) => {
      // REAL codec: per-row PNG encode (ImageFixture) -> ImageIO decode;
      // width/height come from the decoded raster, so a decoder that
      // misreads IHDR or the scanlines fails the oracle
      val withPayload = Multimodal.attachImagePayload(s, t(s, dir, "documents"), "doc_id")
      Multimodal.featurize(s, withPayload, "doc_id")
        .where(col("decode_ok"))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),

    "q34_multimodal_features" -> ((s, dir) => {
      // REAL codec: decoded-pixel channel sums (exact longs); DuckDB replays
      // the ImageFixture arithmetic — PNG is lossless so they must agree
      val withPayload = Multimodal.attachImagePayload(s, t(s, dir, "documents"), "doc_id")
      Multimodal.featurize(s, withPayload, "doc_id")
        .where(col("decode_ok"))
        .select(col("doc_id"), col("sum_r"), col("sum_g"), col("sum_b"),
          col("sumsq_r"), col("sumsq_g"), col("sumsq_b"))
    }),

    "q102_image_resize_stats" -> ((s, dir) => {
      // REAL codec round trip x2: PNG encode -> decode -> exact 2x2
      // block-average on the decoded raster -> PNG re-encode -> decode ->
      // channel sums; DuckDB replays the block-average arithmetic
      val withPayload = Multimodal.attachImagePayload(s, t(s, dir, "documents"), "doc_id")
      val resized = Multimodal.resize(s, withPayload, "doc_id", factor = 2)
      Multimodal.featurize(s, resized, "doc_id")
        .where(col("decode_ok"))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    }),

    "q111_bpe_chunks" -> ((s, dir) => {
      // chunkSliding over BPE tokens (tokensCol + joinSep="" wiring):
      // every chunk's md5 pins the exact token windows; one BPE token =
      // one char of the encoded form, so the oracle replays chunks as
      // substrings of the same nested-replace encoding
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
        split(Bpe.applyMerges(col("text"), BpeVocab.merges), "").as("bpe"))
      Curate.chunkSliding(d, "text", "doc_id", chunkSize = 64, stride = 32,
          tokensCol = Some("bpe"), joinSep = "")
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_md5"), col("n_tokens"))
    }),

    "q112_bpe_weighted_mix" -> ((s, dir) => {
      // token-mass-budgeted corpus mixing (mixCorpus weightCol wiring):
      // the 8000-token budget is allocated by BPE mass, not doc count
      val d = t(s, dir, "documents").withColumn("__bpe",
        Bpe.tokenCount(col("text"), BpeVocab.merges).cast("long"))
      Curate.mixCorpus(d, "source", "doc_id",
          targetShares = Map("src0" -> 0.5, "src1" -> 0.5), budget = 8000L,
          weightCol = Some("__bpe"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"),
          sum(col("__bpe")).as("kept_tokens"))
    }),

    "q116_kmeans_distributed" -> ((s, dir) => {
      // distributed integer-exact Lloyd's: 3 full iterations over the
      // embeddings corpus, k=4, seeds = lowest vec_ids; the oracle
      // replays the complete trajectory (assignment argmin, exact sums,
      // truncating centroid updates) per iteration
      Similarity.kmeansLloyd(t(s, dir, "embeddings"), "embedding",
        "vec_id", k = 4, iterations = 3)
    }),

    "q117_pq_encode" -> ((s, dir) => {
      // product quantization: 4 subspaces x 8 integer-unit codewords
      // trained by the fused integer-exact Lloyd's (2 iterations, one
      // compact shuffle each), then a row-local zero-shuffle encode; the
      // oracle replays all 4 subspace trajectories AND the argmin encode
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqTrain(emb, m = 4, kCodes = 8, iterations = 2)
      Similarity.pqEncode(emb, cb)
        .select(col("vec_id"),
          element_at(col("codes"), 1).cast("long").as("c0"),
          element_at(col("codes"), 2).cast("long").as("c1"),
          element_at(col("codes"), 3).cast("long").as("c2"),
          element_at(col("codes"), 4).cast("long").as("c3"))
    }),

    "q127_ivfpq_ann" -> ((s, dir) => {
      // the production ANN capstone: IVF coarse quantizer + RESIDUAL
      // product quantization, probed at nProbe=2 of 4 lists — coarse
      // fit, assignment, residuals, per-subspace codebooks, encode and
      // ADC are ALL integer-exact, so DuckDB replays the entire index
      // build and query
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqBuild(emb, nLists = 4, m = 4, kCodes = 8,
        iterations = 2)
      Similarity.ivfPqQuery(idx, emb.filter(col("vec_id") < 4), k = 5,
        nProbe = 2)
    }),

    "q158_ivfpq_append" -> ((s, dir) => {
      // the ANN tier's incremental append (q154's discipline applied to
      // indexes): build on the PRIOR corpus slice only (vec_id % 5 != 0
      // — coarse and residual codebooks never see the new batch), then
      // ivfPqAppend assigns + encodes the new vectors (vec_id % 5 == 0)
      // under the FROZEN codebooks, and the probe ranks over the
      // combined index. Also the first ORACLED path through the
      // train/encode split (q153's trainOn was gate-only): DuckDB
      // replays Lloyd's on the prior slice and the encode over the full
      // corpus, so a leak of new vectors into training on either side
      // breaks the hash.
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqBuild(
        emb.filter(col("vec_id") % 5 =!= 0),
        nLists = 4, m = 4, kCodes = 8, iterations = 2)
      val appended = Similarity.ivfPqAppend(idx,
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.ivfPqQuery(appended, emb.filter(col("vec_id") < 4),
        k = 5, nProbe = 2)
    }),

    "q159_ivfpq_append_persisted" -> ((s, dir) => {
      // q158's append through the SERVING ARTIFACT: save the
      // prior-slice index, ivfPqAppendSave the new batch in place (only
      // the batch's own __list= partitions receive files; the existing
      // encoded table is never scanned — the q154 shard-store
      // discipline applied to the index), reload, probe. Same oracle as
      // q158, so any drift introduced by the parquet round trip or the
      // partition-selective append breaks the hash.
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_")
      try {
        val idx = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 5 =!= 0),
          nLists = 4, m = 4, kCodes = 8, iterations = 2)
        Similarity.ivfPqSave(idx, base.toString)
        Similarity.ivfPqAppendSave(s, base.toString,
          emb.filter(col("vec_id") % 5 === 0))
        val loaded = Similarity.ivfPqLoad(s, base.toString)
        Similarity.ivfPqQuery(loaded, emb.filter(col("vec_id") < 4),
            k = 5, nProbe = 2)
          .localCheckpoint(true)
      } finally deleteRecursively(base)
    }),

    "q160_streaming_index" -> ((s, dir) => {
      // q159's frozen-codebook append driven by the REAL micro-batch
      // engine (the FAISS-plus-message-bus ingest pattern): the new
      // slice (vec_id % 5 == 0) arrives as two id-ordered drops, one
      // per trigger (StagedDrops' layout), each landed by
      // VectorIndexSink as an atomic, batchId-keyed delta directory
      // next to the saved prior-slice index — codebooks frozen, base
      // never read on the append path. Encode is row-local and
      // deterministic, so the served view must equal q158's in-memory
      // append vector-for-vector: same oracle, now pinning a store the
      // streaming engine built through two exactly-once appends.
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_vsink_")
      try {
        val idx = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 5 =!= 0),
          nLists = 4, m = 4, kCodes = 8, iterations = 2)
        Similarity.ivfPqSave(idx, base.toString)
        val newSlice = emb.filter(col("vec_id") % 5 === 0)
          .localCheckpoint(true)
        try {
          StagedDrops.stageAll(StagedDrops.idCuts(newSlice, "vec_id", 2)
            .drops(newSlice, "vec_id"), s"$base/in")
          val stream = StagedDrops.open(s, s"$base/in")
          graft.streaming.VectorIndexSink.run(stream, base.toString,
            checkpointDir = s"$base/ck")
          val served = graft.streaming.VectorIndexSink.read(s,
            base.toString)
          Similarity.ivfPqQuery(served, emb.filter(col("vec_id") < 4),
              k = 5, nProbe = 2)
            .localCheckpoint(true)
        } finally
          org.apache.spark.sql.graftglue.GraftGlue
            .releaseCheckpoint(newSlice)
      } finally deleteRecursively(base)
    }),

    "q161_index_delete" -> ((s, dir) => {
      // the index lifecycle's last verb — FAISS remove_ids as an
      // O(batch) tombstone delta (the takedown / right-to-erasure
      // flow): after q159's save + append-in-place, a delete batch
      // (vec_id % 7 == 1) is atomically published as a tombstone set;
      // the served view masks those ids across base AND append deltas
      // via a broadcast anti join, and compaction would erase them
      // physically. Oracle = q158's full train/encode-split replay with
      // the deleted ids excluded BEFORE ranking, so a mask applied too
      // late (post-rank) or too narrowly (base only) breaks the hash.
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ivfdel_")
      try {
        val idx = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 5 =!= 0),
          nLists = 4, m = 4, kCodes = 8, iterations = 2)
        Similarity.ivfPqSave(idx, base.toString)
        Similarity.ivfPqAppendSave(s, base.toString,
          emb.filter(col("vec_id") % 5 === 0))
        graft.streaming.VectorIndexSink.deleteBatch(s, base.toString,
          0L, emb.filter(col("vec_id") % 7 === 1).select("vec_id"))
        val served = graft.streaming.VectorIndexSink.read(s,
          base.toString)
        Similarity.ivfPqQuery(served, emb.filter(col("vec_id") < 4),
            k = 5, nProbe = 2)
          .localCheckpoint(true)
      } finally deleteRecursively(base)
    }),

    "q162_index_drift_recall" -> ((s, dir) => {
      // the retrain trigger, ORACLED: a drifted batch (every third
      // vector shifted +0.25 per dim — float add is correctly rounded,
      // so DuckDB's CAST(x + 0.25 AS FLOAT) reproduces it bit-for-bit
      // — with ids offset by 1e6) is appended under codebooks trained
      // BEFORE the drift, and recall@5 over mixed probes (two
      // original, two drifted) against the exact integer-L2 top-5 of
      // the combined corpus measures exactly what the frozen-codebook
      // caveat costs. This is the number a production deployment
      // watches to schedule retraining (the ivfPqAppend scaladoc's
      // "monitor with recallAtK") — and both sides are deterministic,
      // so the monitor itself is hash-pinned, not just demonstrated.
      val emb = t(s, dir, "embeddings")
      val drifted = emb.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.25f))
            .as("embedding"), col("label"))
      val combined = emb.unionByName(drifted)
      val probes = combined.filter(
        col("vec_id").isin(0L, 1L, 1000000L, 1000003L))
      val idx = Similarity.ivfPqBuild(emb, nLists = 4, m = 4,
        kCodes = 8, iterations = 2) // pre-drift codebooks
      val appended = Similarity.ivfPqAppend(idx, drifted)
      Similarity.recallAtK(
        Similarity.ivfPqQuery(appended, probes, k = 5, nProbe = 2),
        Similarity.bruteForceTopKL2(combined, probes, k = 5), k = 5)
    }),

    "q163_index_compaction" -> ((s, dir) => {
      // the lifecycle's scheduled fold, ORACLED: q161's store gains a
      // RE-ADD (the even half of the deleted ids, published at a LATER
      // batch than the tombstone), then compact folds
      // base + appends - tombstones into a fresh single-table index.
      // The probe runs against the COMPACTED copy through plain
      // ivfPqLoad — no tombstone masking exists on that path — so the
      // hash pins BOTH physical erasure (a masked row still present
      // would rank) and re-add survival (an erased re-add would
      // vanish), not just the spec. The oracle excludes exactly
      // (deleted \ re-added) from the candidate set before ranking.
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ivfcmp_")
      try {
        val idx = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 5 =!= 0),
          nLists = 4, m = 4, kCodes = 8, iterations = 2)
        Similarity.ivfPqSave(idx, base.toString)
        graft.streaming.VectorIndexSink.appendBatch(s, base.toString,
          0L, emb.filter(col("vec_id") % 5 === 0))
        graft.streaming.VectorIndexSink.deleteBatch(s, base.toString,
          1L, emb.filter(col("vec_id") % 7 === 1).select("vec_id"))
        graft.streaming.VectorIndexSink.appendBatch(s, base.toString,
          2L, emb.filter(col("vec_id") % 7 === 1
            && col("vec_id") % 2 === 0))
        graft.streaming.VectorIndexSink.compact(s, base.toString,
          s"$base/c")
        val folded = Similarity.ivfPqLoad(s, s"$base/c")
        Similarity.ivfPqQuery(folded, emb.filter(col("vec_id") < 4),
            k = 5, nProbe = 2)
          .localCheckpoint(true)
      } finally deleteRecursively(base)
    }),

    "q164_shard_compaction" -> ((s, dir) => {
      // the shard store's scheduled fold (the ShardSink scaladoc's
      // "compacts old versions on a schedule", now code + oracle):
      // three id-ordered crawl drops append as delta versions, then
      // compact resolves latest-wins PHYSICALLY into a fresh
      // single-version store — superseded topped-up tails are absent
      // from the new layout, so the merge that read() would do is
      // pre-baked. Reading the compacted store must equal the one-shot
      // packTokenIds of the whole corpus: q147's corpus-wide
      // per-sequence md5 oracle, now pinning the post-compaction
      // layout (a tail either lost or doubled by the fold breaks both
      // the md5 and the seq_id density).
      val base = java.nio.file.Files.createTempDirectory("graft_shcmp_")
      try {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
          .localCheckpoint(true)
        try {
          val drops = StagedDrops.idCuts(d, "doc_id", 3).drops(d, "doc_id")
          drops.foreach { part =>
            graft.streaming.ShardSink.append(s, part, "__ids", "doc_id",
              budget = 2048, shardCol = "source",
              storeDir = s"$base/store")
          }
          graft.streaming.ShardSink.compact(s, s"$base/store",
            s"$base/compacted")
          graft.streaming.ShardSink.read(s, s"$base/compacted")
            .select(col("source"), col("seq_id"),
              col("n_tokens").cast("long").as("n_tokens"),
              md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
            .localCheckpoint(true)
        } finally
          org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
      } finally deleteRecursively(base)
    }),

    "q166_store_time_travel" -> ((s, dir) => {
      // snapshot reads from the delta layout, ORACLED: after THREE
      // id-ordered crawl drops, `read(asOf = v1)` serves the store
      // exactly as it stood after the second — equal to the one-shot
      // pack of just the first two drops' documents, per-sequence
      // md5-pinned. This is the verb that makes a training run
      // byte-reproducible ("train on the corpus as of crawl N"):
      // versions are immutable once published, so the same asOf always
      // serves the same bytes no matter how many drops land later. A
      // reader that leaked v2 rows (or the v2-topped-up tails) into
      // the snapshot breaks both the md5 and the seq_id density.
      val base = java.nio.file.Files.createTempDirectory("graft_asof_")
      try {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
          .localCheckpoint(true)
        try {
          val drops = StagedDrops.idCuts(d, "doc_id", 3).drops(d, "doc_id")
          drops.foreach { part =>
            graft.streaming.ShardSink.append(s, part, "__ids", "doc_id",
              budget = 2048, shardCol = "source",
              storeDir = s"$base/store")
          }
          graft.streaming.ShardSink.read(s, s"$base/store",
              asOf = Some(1L))
            .select(col("source"), col("seq_id"),
              col("n_tokens").cast("long").as("n_tokens"),
              md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
            .localCheckpoint(true)
        } finally
          org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
      } finally deleteRecursively(base)
    }),

    "q167_streaming_cdc_index" -> ((s, dir) => {
      // CDC into the serving index through the REAL micro-batch engine:
      // three change batches arrive as three drops, one per trigger in
      // staging order (StagedDrops' layout) (upsert the %5 slice; delete %7==1 while upserting
      // %13==2 in the SAME trigger; re-upsert the even deleted half).
      // runCdc publishes tombstone d<2T> (deletes + upsert self-masks)
      // then append b<2T+1> per trigger — FAISS remove-then-add as
      // explicit store batches, giving TRUE upsert (an id's earlier
      // copies are masked; no duplicates can reach the served view, so
      // a re-upserted id ranks once). Oracle: q158's replay excluding
      // exactly the ids whose LAST change was the delete (%7==1, odd,
      // and not re-upserted via the %13==2 same-trigger upsert).
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_cdc_")
      try {
        val idx = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 5 =!= 0),
          nLists = 4, m = 4, kCodes = 8, iterations = 2)
        Similarity.ivfPqSave(idx, base.toString)
        val batches = Seq(
          emb.filter(col("vec_id") % 5 === 0)
            .withColumn("op", lit("upsert")),
          emb.filter(col("vec_id") % 7 === 1)
            .withColumn("op", lit("delete"))
            .unionByName(emb.filter(col("vec_id") % 13 === 2)
              .withColumn("op", lit("upsert"))),
          emb.filter(col("vec_id") % 7 === 1
              && col("vec_id") % 2 === 0)
            .withColumn("op", lit("upsert")))
        StagedDrops.stageAll(batches, s"$base/in")
        graft.streaming.VectorIndexSink.runCdc(
          StagedDrops.open(s, s"$base/in"), base.toString, s"$base/ck")
        val served = graft.streaming.VectorIndexSink.read(s,
          base.toString)
        Similarity.ivfPqQuery(served, emb.filter(col("vec_id") < 4),
            k = 5, nProbe = 2)
          .localCheckpoint(true)
      } finally deleteRecursively(base)
    }),

    "q168_streaming_refresh" -> ((s, dir) => {
      // the weekly crawl refresh END-TO-END on the STREAMING engine:
      // q155's five-stage chain with the new corpus slice (doc_id%3==0)
      // arriving as three id-ordered drops (StagedDrops' one drop per
      // trigger). Per trigger,
      // RefreshPipeline runs exact incremental dedup against
      // prior ∪ previously-accepted stream docs (global first-writer-
      // wins via its ledger), near dedup + 5-gram decontamination
      // against the FIXED prior corpus / benchmark slice, byte-BPE
      // encode, and the O(batch) shard append above the prior pack at
      // v0. The final merged STORE view must equal the one-shot pack of
      // prior + exactly the docs the batch chain keeps — q155's replay
      // with the full-store projection, every sequence md5-pinned.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_srefresh_") { c =>
        val base = c.base
        val tSeed = System.nanoTime()
        StagedDrops.seedPrior(c.prior, s"$base/store", None)
        Bench.recordComponent("q168_seed_prior_pack",
          (System.nanoTime() - tSeed) / 1e9)
        StagedDrops.stageAll(StagedDrops.idCuts(c.newDocs, "doc_id", 3)
          .drops(c.newDocs, "doc_id"), s"$base/in")
        val stream = StagedDrops.open(s, s"$base/in")
        val tDrain = System.nanoTime()
        graft.streaming.RefreshPipeline.run(stream, c.prior, c.benchmark,
          storeDir = s"$base/store", ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck")
        Bench.recordComponent("q168_stream_drain",
          (System.nanoTime() - tDrain) / 1e9)
        graft.streaming.ShardSink.read(s, s"$base/store")
          .select(col("source"), col("seq_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
          .localCheckpoint(true)
      }
    }),

    "q169_store_retention" -> ((s, dir) => {
      // the retention verb ORACLED: q164's three-drop store is
      // compacted into a sibling, the PRE-COMPACTION store is retired
      // (payload deleted behind a tombstone marker), and the result is
      // read from the SURVIVING store — which must still equal the
      // one-shot pack of the whole corpus (a fold that lost or doubled
      // a tail breaks the md5s). The retention floor is gated
      // in-query: after retire, plain read, any asOf snapshot, and
      // appends against the retired path must all fail loudly naming
      // the successor — never serve a partial or empty view. Three
      // unsafe retires are gated too: before any compaction (no
      // lineage marker), after the source grew past the fold
      // (recompact first), and a second retire of the same store.
      val base = java.nio.file.Files.createTempDirectory("graft_ret_")
      try {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
          .localCheckpoint(true)
        try {
          val cuts = StagedDrops.idCuts(d, "doc_id", 3)
          def drop(k: Int) = cuts.drop(d, "doc_id", k)
          (0 until 2).foreach { k =>
            graft.streaming.ShardSink.append(s, drop(k), "__ids",
              "doc_id", budget = 2048, shardCol = "source",
              storeDir = s"$base/store")
          }
          def gate(cond: Boolean, what: String): Unit =
            require(cond, s"retention gate failed: $what")
          def failsRetired(f: => Any): Boolean =
            try { f; false } catch {
              case e: IllegalStateException =>
                e.getMessage.contains("retired")
              case _: Throwable => false
            }
          // unsafe retire #1: nothing names this store yet
          gate(try {
              graft.streaming.ShardSink.retire(s"$base/store", s"$base/c")
              false
            } catch { case _: IllegalArgumentException => true },
            "retire before any compaction must be refused")
          graft.streaming.ShardSink.compact(s, s"$base/store", s"$base/c")
          // unsafe retire #2: the source grew past the fold
          graft.streaming.ShardSink.append(s, drop(2), "__ids",
            "doc_id", budget = 2048, shardCol = "source",
            storeDir = s"$base/store")
          gate(try {
              graft.streaming.ShardSink.retire(s"$base/store", s"$base/c")
              false
            } catch { case e: IllegalArgumentException =>
              e.getMessage.contains("recompact") },
            "retire of an outgrown fold must demand a recompact")
          graft.streaming.ShardSink.compact(s, s"$base/store",
            s"$base/c2")
          graft.streaming.ShardSink.retire(s"$base/store", s"$base/c2")
          // the retention floor: every access to the retired layout
          // fails loudly and names the successor
          gate(failsRetired(
              graft.streaming.ShardSink.read(s, s"$base/store")),
            "read of a retired store must fail loudly")
          gate(failsRetired(graft.streaming.ShardSink.read(s,
              s"$base/store", asOf = Some(0L))),
            "asOf below the retention floor must fail loudly")
          gate(failsRetired(graft.streaming.ShardSink.append(s, drop(2),
              "__ids", "doc_id", 2048, "source", s"$base/store")),
            "append to a retired store must fail loudly")
          // unsafe retire #3: double retire
          gate(failsRetired(
              graft.streaming.ShardSink.retire(s"$base/store",
                s"$base/c2")),
            "double retire must fail loudly")
          graft.streaming.ShardSink.read(s, s"$base/c2")
            .select(col("source"), col("seq_id"),
              col("n_tokens").cast("long").as("n_tokens"),
              md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
            .withColumn("retention_gates_ok", lit(true))
            .localCheckpoint(true)
        } finally
          org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
      } finally deleteRecursively(base)
    }),

    "q170_refresh_cross_store" -> ((s, dir) => {
      // the cross-store refresh flagship: q168's streamed weekly
      // refresh with indexDir set, so each trigger maintains BOTH
      // stores a training-data platform runs off one crawl drop — the
      // shard store for the trainer and the served vector index for
      // retrieval — under one delivery discipline (store version
      // batchId+1, index delta batchId, ledger last). The output pins
      // both from one stream: every served index id (must be exactly
      // prior ∪ the accepted survivors — a doc dropped by any dedup
      // tier is absent from BOTH stores) cross-joined with a canonical
      // digest of the whole shard store view, so one oracle row set
      // checks id-set agreement AND store content.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_xrefresh_") { c =>
        val base = c.base
        StagedDrops.seedPrior(c.prior, s"$base/store", Some(s"$base/ix"))
        StagedDrops.stageAll(StagedDrops.idCuts(c.newDocs, "doc_id", 3)
          .drops(c.newDocs, "doc_id"), s"$base/in")
        val stream = StagedDrops.open(s, s"$base/in")
          .withColumn("embedding", StagedDrops.emb)
        val tDrain = System.nanoTime()
        graft.streaming.RefreshPipeline.run(stream, c.prior, c.benchmark,
          storeDir = s"$base/store", ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck", indexDir = Some(s"$base/ix"))
        Bench.recordComponent("q170_stream_drain",
          (System.nanoTime() - tDrain) / 1e9)
        StagedDrops.crossStore(graft.streaming.VectorIndexSink
            .read(s, s"$base/ix", idCol = "doc_id"),
          graft.streaming.ShardSink.read(s, s"$base/store"))
      }
    }),

    "q171_cross_store_asof" -> ((s, dir) => {
      // paired cross-store snapshots: three drops drive BOTH stores
      // through the SAME per-trigger unit the streaming engine
      // re-delivers (processBatch, batch ids 0/1/2 — store versions
      // v1/v2/v3 above the seeded v0, index deltas b0/b1/b2), then
      // both stores are read AS OF the paired mid-history point —
      // index asOf b1 with store asOf v2, the state after the SECOND
      // drop. One oracle pins that the two stores' snapshots COMPOSE:
      // the index snapshot serves exactly prior + the first two drops'
      // survivors, and the store snapshot's digest equals the pack of
      // exactly those docs (id-ordered drops are prefix-closed, so the
      // restricted replay reproduces the mid-history decisions).
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_xasof_") { c =>
        val base = c.base
        StagedDrops.seedPrior(c.prior, s"$base/store", Some(s"$base/ix"))
        val cuts = StagedDrops.idCuts(c.newDocs, "doc_id", 3)
        val tDrops = System.nanoTime()
        // the trigger-invariant prior caches, built by the same
        // RefreshPipeline.priorCaches that run seeds a drain with
        val caches = graft.streaming.RefreshPipeline.priorCaches(
          c.prior, c.benchmark, textCol = "text", numHashes = 32,
          bands = 8, decontamN = 5)
        try {
          (0 until 3).foreach { k =>
            graft.streaming.RefreshPipeline.processBatch(
              cuts.drop(c.newDocs, "doc_id", k)
                .withColumn("embedding", StagedDrops.emb),
              k.toLong, caches, graft.streaming.RefreshPipeline.Stores
                .Dirs(s"$base/store", Some(s"$base/ix")), s"$base/ledger",
              budget = 2048, shardCol = "source", idCol = "doc_id",
              threshold = 0.8, minMatches = 2, vecCol = "embedding")
          }
        } finally caches.release()
        Bench.recordComponent("q171_three_drops",
          (System.nanoTime() - tDrops) / 1e9)
        StagedDrops.crossStore(graft.streaming.VectorIndexSink
            .read(s, s"$base/ix", idCol = "doc_id", asOf = Some(1L)),
          graft.streaming.ShardSink.read(s, s"$base/store",
            asOf = Some(2L)))
      }
    }),

    "q173_attributed_refresh" -> ((s, dir) => {
      // the two streaming surfaces composed end-to-end: view->click
      // attribution through the ENGINE's stream-stream inner interval
      // join (q172's operator) GATES which crawl docs enter the
      // streamed refresh chain (q170's operator) — only docs whose
      // synthetic engagement events attribute (a click exists AND
      // lands inside the 6 h window) are deduped, decontaminated,
      // tokenized and appended to BOTH stores. Engagement fixture,
      // derived from the new-docs pool so the gate is closed-form:
      // every doc views at BASE + doc_id sec; docs with doc_id%5 == 2
      // never click (attribution fails on the join key), the rest
      // click at +(doc_id%8)*3300 sec — %8 == 7 puts the click OUTSIDE
      // the window (attribution fails on the interval bound; %8 == 0
      // exercises the inclusive lower bound). Three id-ranged file
      // pairs drive three aligned triggers, so drops stay id-ordered
      // and prefix-closed — the property that makes the chain
      // replayable. The oracle replays the gate arithmetically inside
      // refreshCtes' newPred and pins q170's two cross-store outputs:
      // served index ids x the shard-store digest. If the join leaked
      // an out-of-window click or dropped a pair, the id sets diverge.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_attref_") { c =>
        val base = c.base
        StagedDrops.seedPrior(c.prior, s"$base/store", Some(s"$base/ix"))
        // stage the engagement streams as three aligned id-ranged
        // drop pairs (event time strictly increases with doc_id, so
        // no trigger's rows can fall behind the global watermark)
        val views = c.newDocs.select(col("doc_id").as("v_uid"),
          col("doc_id").as("vid"),
          timestamp_seconds(lit(86400L) + col("doc_id")).as("v_ts"))
        val clicks = c.newDocs.filter(col("doc_id") % 5 =!= 2)
          .select(col("doc_id").as("c_uid"), col("doc_id").as("cid"),
            timestamp_seconds(lit(86400L) + col("doc_id")
              + (col("doc_id") % 8) * 3300).as("c_ts"))
        val cuts = StagedDrops.idCuts(c.newDocs, "doc_id", 3)
        StagedDrops.stageAll(cuts.drops(views, "v_uid"), s"$base/views")
        StagedDrops.stageAll(cuts.drops(clicks, "c_uid"), s"$base/clicks")
        def src(sub: String, tsCol: String): DataFrame =
          StagedDrops.open(s, s"$base/$sub")
            .withWatermark(tsCol, "500 milliseconds")
        val attributed = src("views", "v_ts").join(
          src("clicks", "c_ts"),
          col("v_uid") === col("c_uid") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"),
          "inner")
        val docsStream = attributed
          .join(broadcast(c.docs), col("v_uid") === col("doc_id"))
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("embedding", StagedDrops.emb)
        val tDrain = System.nanoTime()
        // state partitions sized to the fixture: the join keys are
        // ~500/trigger, and every batch-plan execution pays a state
        // store load+commit PER partition PER store (4 stores/side
        // pair) — 32 partitions is pure fixed overhead here. A
        // production deployment sizes this to its throughput; the
        // conf is read once at query start and restored after the
        // drain.
        val prevSp = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        try
          graft.streaming.RefreshPipeline.run(docsStream, c.prior,
            c.benchmark,
            storeDir = s"$base/store", ledgerDir = s"$base/ledger",
            checkpointDir = s"$base/ck",
            indexDir = Some(s"$base/ix"))
        finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
        Bench.recordComponent("q173_stream_drain",
          (System.nanoTime() - tDrain) / 1e9)
        StagedDrops.crossStore(graft.streaming.VectorIndexSink
            .read(s, s"$base/ix", idCol = "doc_id"),
          graft.streaming.ShardSink.read(s, s"$base/store"))
      }
    }),

    "q174_resumed_refresh" -> ((s, dir) => {
      // the weekly refresh run WEEKLY: two AvailableNow drain sessions
      // over ONE checkpoint — drops 0-1 drain, the engine stops, drops
      // 2-3 arrive, a NEW RefreshPipeline.run resumes from the same
      // checkpoint (batch ids continue 2,3 -> store versions v3/v4,
      // index deltas b2/b3; the file-source log skips session 1's
      // files). Drop 3 additionally carries REPLAYS of session 1's
      // drop-0 docs (doc_id % 7 == 1) under fresh ids (+9,999,999 — a
      // multiple of 3, so the oracle's prior/new classification is
      // unchanged): byte-identical text the near tier cannot drop
      // (their originals are stream docs, not prior corpus), so ONLY
      // the fingerprint ledger written by the FIRST session can mask
      // them. The oracle replays the one-shot chain over real + replay
      // docs (first-writer-wins by id kills every replay) and pins
      // q170's two cross-store outputs — a pipeline that forgot its
      // ledger across the restart would serve the replay ids and shift
      // the store digest.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_resref_") { c =>
        val base = c.base
        StagedDrops.seedPrior(c.prior, s"$base/store", Some(s"$base/ix"))
        val cuts = StagedDrops.idCuts(c.newDocs, "doc_id", 4)
        def drop(k: Int): DataFrame = cuts.drop(c.newDocs, "doc_id", k)
        def stage(k: Int, part: DataFrame): Unit =
          StagedDrops.stage(part, s"$base/in", k)
        def drain(): Unit = {
          val stream = StagedDrops.open(s, s"$base/in")
            .withColumn("embedding", StagedDrops.emb)
          graft.streaming.RefreshPipeline.run(stream, c.prior,
            c.benchmark,
            storeDir = s"$base/store", ledgerDir = s"$base/ledger",
            checkpointDir = s"$base/ck",
            indexDir = Some(s"$base/ix"))
        }
        val tD = System.nanoTime()
        stage(0, drop(0)); stage(1, drop(1))
        drain() // session 1: batch ids 0,1
        stage(2, drop(2))
        stage(3, drop(3).unionByName( // replays of session 1's drop 0
          drop(0).filter(col("doc_id") % 7 === 1)
            .withColumn("doc_id", col("doc_id") + 9999999L)))
        drain() // session 2, SAME checkpoint: batch ids resume at 2
        Bench.recordComponent("q174_two_drains",
          (System.nanoTime() - tD) / 1e9)
        StagedDrops.crossStore(graft.streaming.VectorIndexSink
            .read(s, s"$base/ix", idCol = "doc_id"),
          graft.streaming.ShardSink.read(s, s"$base/store"))
      }
    }),

    "q175_managed_refresh" -> ((s, dir) => {
      // q170's cross-store refresh run against GENERATION-MANAGED
      // store roots with compaction ON SCHEDULE inside the drain
      // (StoreRoot + RefreshPipeline.runManaged): compactEvery=2 over
      // three drops BEGINS the out-of-band fold after the second
      // trigger (background thread over the immutable committed
      // versions), the third trigger's append lands concurrently, and
      // the drain's end completes the cycle — top-up of the late
      // delta, manifest swap, retire — so the final cross-store
      // outputs must be bit-identical to the uncompacted chain (q170's
      // oracle, verbatim). In-query gates pin the retention contract
      // the oracle can't see: both roots ended on generation 1, the
      // retired generation-0 layouts fail loudly, and an asOf below
      // each root's retention floor (shard v2 / index b2) is refused.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_mrefresh_") { c =>
        val base = c.base
        val sRoot = s"$base/sroot"; val iRoot = s"$base/iroot"
        StagedDrops.seedPrior(c.prior,
          graft.streaming.StoreRoot.init(sRoot),
          Some(graft.streaming.StoreRoot.init(iRoot)))
        StagedDrops.stageAll(StagedDrops.idCuts(c.newDocs, "doc_id", 3)
          .drops(c.newDocs, "doc_id"), s"$base/in")
        val stream = StagedDrops.open(s, s"$base/in")
          .withColumn("embedding", StagedDrops.emb)
        val tDrain = System.nanoTime()
        graft.streaming.RefreshPipeline.runManaged(stream, c.prior,
          c.benchmark,
          shardRoot = sRoot, ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck", compactEvery = 2,
          indexRoot = Some(iRoot))
        Bench.recordComponent("q175_managed_drain",
          (System.nanoTime() - tDrain) / 1e9)
        // the retention gates: one mid-stream cycle ran on each root
        // (gen 1 current, floors at the folded high-water marks),
        // the predecessors fail loudly, below-floor asOf is refused
        require(graft.streaming.StoreRoot.currentGen(sRoot) == 1L
            && graft.streaming.StoreRoot.currentGen(iRoot) == 1L,
          "expected exactly one mid-stream compaction cycle per root")
        // shard fold cut at its compaction point (v0..v2 -> floor
        // 2); the index fold is SERIALIZED behind it (one fold in
        // flight across both roots), so its cut includes the last
        // trigger's arm b2 -> floor 2 as well
        require(graft.streaming.StoreRoot.floor(sRoot).contains(2L)
            && graft.streaming.StoreRoot.floor(iRoot).contains(2L),
          "unexpected retention floors after the mid-stream fold")
        StagedDrops.loud(graft.streaming.ShardSink.read(s,
          s"$sRoot/gen0").collect(), "reading the retired shard gen0")
        StagedDrops.loud(graft.streaming.VectorIndexSink.read(s,
          s"$iRoot/gen0", idCol = "doc_id"),
          "reading the retired index gen0")
        StagedDrops.loud(graft.streaming.StoreRoot.readShard(s, sRoot,
          asOf = Some(1L)), "shard asOf below the floor")
        StagedDrops.loud(graft.streaming.StoreRoot.readVectors(s, iRoot,
          idCol = "doc_id", asOf = Some(0L)),
          "index asOf below the floor")
        StagedDrops.crossStore(graft.streaming.StoreRoot
            .readVectors(s, iRoot, idCol = "doc_id"),
          graft.streaming.StoreRoot.readShard(s, sRoot))
      }
    }),

    "q176_windowed_retention" -> ((s, dir) => {
      // windowed retention: q171's paired mid-history snapshots
      // (store asOf v2, index asOf b1) read AFTER a keep=1 compaction
      // on both managed roots — the fold absorbs everything at or
      // below exactly those points and carries the newest delta
      // (v3 / b2) into the fresh generation VERBATIM, so the paired
      // snapshots sit AT the new retention floors and must still be
      // served bit-identically (q171's oracle, verbatim). In-query
      // gates pin the window mechanics: the full views are
      // bit-identical before and after the cycle (the carried deltas
      // still apply on top of the fold), floors land at v2/b1 (not
      // the latest — the window held them open), one step below each
      // floor is refused, and the gen0 layouts are retired.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_wret_") { c =>
        val base = c.base
        val sRoot = s"$base/sroot"; val iRoot = s"$base/iroot"
        StagedDrops.seedPrior(c.prior,
          graft.streaming.StoreRoot.init(sRoot),
          Some(graft.streaming.StoreRoot.init(iRoot)))
        val cuts = StagedDrops.idCuts(c.newDocs, "doc_id", 3)
        val tDrops = System.nanoTime()
        val caches = graft.streaming.RefreshPipeline.priorCaches(
          c.prior, c.benchmark, textCol = "text", numHashes = 32,
          bands = 8, decontamN = 5)
        try {
          (0 until 3).foreach { k =>
            graft.streaming.RefreshPipeline.processBatch(
              cuts.drop(c.newDocs, "doc_id", k)
                .withColumn("embedding", StagedDrops.emb),
              k.toLong, caches, graft.streaming.RefreshPipeline.Stores
                .Roots(sRoot, Some(iRoot)), s"$base/ledger",
              budget = 2048, shardCol = "source", idCol = "doc_id",
              threshold = 0.8, minMatches = 2, vecCol = "embedding")
          }
        } finally caches.release()
        Bench.recordComponent("q176_three_drops",
          (System.nanoTime() - tDrops) / 1e9)
        def storeDigest(asOf: Option[Long]) = StagedDrops.storeDigest(
          graft.streaming.StoreRoot.readShard(s, sRoot, asOf = asOf))
        def servedIdsMd5(asOf: Option[Long]) = graft.streaming.StoreRoot
          .readVectors(s, iRoot, idCol = "doc_id", asOf = asOf)
          .encoded.select(col("doc_id").cast("string").as("i"))
          .agg(md5(concat_ws(";", sort_array(collect_list(col("i"))))))
          .collect()(0).getString(0)
        val fullBefore = storeDigest(None).collect()(0).getString(0)
        val idsBefore = servedIdsMd5(None)
        // one windowed cycle on each root: keep the newest delta live
        require(graft.streaming.StoreRoot.compactShard(s, sRoot,
          keep = 1), "shard compaction should have folded")
        require(graft.streaming.StoreRoot.compactVectors(s, iRoot,
          keep = 1, idCol = "doc_id"),
          "index compaction should have folded")
        require(graft.streaming.StoreRoot.currentGen(sRoot) == 1L
            && graft.streaming.StoreRoot.currentGen(iRoot) == 1L,
          "expected one compaction cycle per root")
        require(graft.streaming.StoreRoot.floor(sRoot).contains(2L)
            && graft.streaming.StoreRoot.floor(iRoot).contains(1L),
          "the keep=1 window should hold the floor one step below " +
            "the latest version/batch")
        require(storeDigest(None).collect()(0).getString(0)
            == fullBefore,
          "the windowed fold moved the full store view")
        require(servedIdsMd5(None) == idsBefore,
          "the windowed fold moved the served index view")
        StagedDrops.loud(graft.streaming.ShardSink.read(s,
          s"$sRoot/gen0").collect(), "reading the retired shard gen0")
        StagedDrops.loud(graft.streaming.StoreRoot.readShard(s, sRoot,
          asOf = Some(1L)), "shard asOf below the floor")
        StagedDrops.loud(graft.streaming.StoreRoot.readVectors(s, iRoot,
          idCol = "doc_id", asOf = Some(0L)),
          "index asOf below the floor")
        // the paired mid-history snapshots, now AT the floors —
        // q171's oracle pins them bit-identically
        StagedDrops.crossStore(graft.streaming.StoreRoot
            .readVectors(s, iRoot, idCol = "doc_id", asOf = Some(1L)),
          graft.streaming.StoreRoot.readShard(s, sRoot, asOf = Some(2L)))
      }
    }),

    "q165_index_retrain" -> ((s, dir) => {
      // the remediation q162's monitor schedules: the SAME drifted
      // corpus, probes, k and nProbe, but codebooks RETRAINED on the
      // full post-drift corpus instead of frozen pre-drift ones. The
      // q162/q165 pair is the complete monitor -> retrain loop with
      // both sides hash-pinned: q162 measures what serving stale
      // codebooks costs, q165 what the retrain buys back — the
      // before/after comparison a production deployment's retrain
      // scheduler actually makes.
      val emb = t(s, dir, "embeddings")
      val drifted = emb.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.25f))
            .as("embedding"), col("label"))
      val combined = emb.unionByName(drifted)
      val probes = combined.filter(
        col("vec_id").isin(0L, 1L, 1000000L, 1000003L))
      val idx = Similarity.ivfPqBuild(combined, nLists = 4, m = 4,
        kCodes = 8, iterations = 2) // retrained on the drifted corpus
      Similarity.recallAtK(
        Similarity.ivfPqQuery(idx, probes, k = 5, nProbe = 2),
        Similarity.bruteForceTopKL2(combined, probes, k = 5), k = 5)
    }),

    "q134_nprobe_autotune" -> ((s, dir) => {
      // recall-targeted tuning: smallest nProbe whose recall@5 meets
      // 80%, else the full-probe row — with the demo codebooks the
      // sweep is flat at 4/20, so the tuner must fall through to
      // nLists and report the shortfall (the honest outcome)
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqBuild(emb, nLists = 4, m = 4, kCodes = 8,
        iterations = 2)
      val (n, h, p) = Similarity.pickNProbe(idx, emb,
        emb.filter(col("vec_id") < 4), k = 5, targetPct = 80)
      Seq((n.toLong, h, p)).toDF("n_probe", "n_hits", "n_possible")
    }),

    "q138_ivfpq_production" -> ((s, dir) => {
      // the production-size ANN demonstration (the round-7/8 carried
      // ask): kCodes=256 / m=8 / nLists=floor(sqrt(n)) IVF-PQ over the
      // full embeddings table, served through the FAISS refine recipe
      // (ADC shortlist of 10*k, exact re-rank of just those ids) and
      // recall@10-GATED at >= 80% Spark-side — a below-target build
      // fails the query instead of shipping a bad index — then
      // hash-oracled per probe via the full DuckDB replay of the
      // build + probe + refine + recall chain (dynamic nLists derived
      // from the data on both sides)
      val emb = t(s, dir, "embeddings")
      val n = emb.filter(col("embedding").isNotNull).count()
      val nLists = math.floor(math.sqrt(n.toDouble)).toInt
      val nProbe = math.max(1, nLists / 4)
      val k = 10
      val idx = Similarity.ivfPqBuild(emb, nLists = nLists, m = 8,
        kCodes = 256, iterations = 2)
      val probes = localProbes(emb.filter(col("vec_id") < 16))
      val refined = Similarity.ivfPqQueryRefined(idx, emb, probes, k,
        nProbe = nProbe, refine = 10)
      val rec = Similarity.recallAtK(refined,
          Similarity.bruteForceTopKL2(emb, probes, k), k)
        .localCheckpoint(true) // consumed by the gate agg + result dump
      val g = rec.agg(sum(col("n_hits")).cast("long").as("h"),
        sum(col("k")).cast("long").as("p")).collect()(0)
      val (hits, possible) = (g.getAs[Long]("h"), g.getAs[Long]("p"))
      require(hits * 100L >= 80L * possible,
        s"production ANN recall gate failed: $hits/$possible < 80%")
      rec
    }),

    "q148_ivfpq_100k" -> ((s, dir) => {
      // scale evidence for the production ANN recipe (round-9 ask #2):
      // q138's exact config (kCodes=256, m=8, nLists=floor(sqrt(n)),
      // nProbe=nLists/4, ADC shortlist + exact refine, recall@10 gated
      // >= 0.80 in-query) run at a corpus size where IVF-PQ's regime
      // actually holds — the shortlist is <<1% of the corpus, not the 5%
      // of the 2,000-row embeddings table. The corpus is a deterministic
      // synthetic fixture generated IN the query (seeded xxhash64
      // clustered geometry, no files): 100,000 vectors at the bench SF,
      // 20,000 at the correctness SF so the verify dump stays
      // seconds-bounded (same recipe, same gate, only n changes).
      // No oracle by design: the build+probe+refine+recall arithmetic is
      // q138's oracle at correctness SF; this row exists to measure the
      // recipe at n >= 10^5 with the gate enforced in-query.
      val n = annScaleCorpusN(dir)
      val nLists = math.floor(math.sqrt(n.toDouble)).toInt
      val nProbe = math.max(1, nLists / 4)
      val k = 10
      val emb = synthClusteredEmbeddings(s, n, dim = 64, nClusters = 400)
        .localCheckpoint(true) // one deterministic materialization: the
          // build scans the corpus several times (coarse fit, residual
          // codebook, encode) and the gate's brute-force pass again
      try {
        val tBuild = System.nanoTime()
        val idx = Similarity.ivfPqBuild(emb, nLists = nLists, m = 8,
          kCodes = 256, iterations = 2)
        val nEnc = idx.encoded.count() // materialize the build
        require(nEnc == n, s"encoded $nEnc of $n vectors")
        Bench.recordComponent(s"q148_build_n$n",
          (System.nanoTime() - tBuild) / 1e9)
        val probes = localProbes(emb.filter(col("vec_id") % (n / 16) === 0))
        val tServe = System.nanoTime()
        val refined = Similarity.ivfPqQueryRefined(idx, emb, probes, k,
            nProbe = nProbe, refine = 10)
          .localCheckpoint(true) // consumed by the gate agg + dump
        Bench.recordComponent(s"q148_probe_refine_n$n",
          (System.nanoTime() - tServe) / 1e9)
        val tGate = System.nanoTime()
        val rec = Similarity.recallAtK(refined,
            Similarity.bruteForceTopKL2(emb, probes, k), k)
          .localCheckpoint(true)
        val g = rec.agg(sum(col("n_hits")).cast("long").as("h"),
          sum(col("k")).cast("long").as("p")).collect()(0)
        val (hits, possible) = (g.getAs[Long]("h"), g.getAs[Long]("p"))
        Bench.recordComponent(s"q148_recall_gate_n$n",
          (System.nanoTime() - tGate) / 1e9)
        require(hits * 100L >= 80L * possible,
          s"100k-scale ANN recall gate failed: $hits/$possible < 80%")
        rec
      } finally
        org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(emb)
    }),

    "q153_ivfpq_sampled_train" -> ((s, dir) => {
      // the 100-TB-viable build: codebooks fit on a 10% hash-sample
      // (Lloyd's never scans the corpus — the FAISS train-set recipe,
      // `ivfPqBuild(trainOn = ...)`), full corpus assigned + encoded
      // only, then the q138 refine recipe recall-gated >= 0.80
      // in-query. Same synthetic corpus and config as q148, so the two
      // rows isolate exactly one variable: what sampling the training
      // set costs in recall (and saves in build time). A sample-fit
      // RESIDUAL codebook quantizes coarser, so the true neighbors sit
      // deeper in the ADC ranking — measured at q148's refine=10 this
      // config hits 0.73 regardless of nProbe (nLists/4 and nLists/2
      // score identically: the right lists ARE probed, the shortlist is
      // what clips) — and the production compensation is a DEEPER
      // refine shortlist: refine=30 (still <0.5% of the corpus per
      // probe) measures recall@10 = 1.0 at n=100k. No-oracle bench row
      // by design (the gate is in-query; arithmetic is q138's oracle).
      val n = annScaleCorpusN(dir)
      val nLists = math.floor(math.sqrt(n.toDouble)).toInt
      val nProbe = math.max(1, nLists / 4)
      val k = 10
      val emb = synthClusteredEmbeddings(s, n, dim = 64, nClusters = 400)
        .localCheckpoint(true)
      try {
        val sample = Curate.hashSample(emb, "vec_id", rate = 0.1)
        val tBuild = System.nanoTime()
        val idx = Similarity.ivfPqBuild(emb, nLists = nLists, m = 8,
          kCodes = 256, iterations = 2, trainOn = sample)
        val nEnc = idx.encoded.count()
        require(nEnc == n, s"encoded $nEnc of $n vectors")
        Bench.recordComponent(s"q153_sampled_build_n$n",
          (System.nanoTime() - tBuild) / 1e9)
        val probes = localProbes(emb.filter(col("vec_id") % (n / 16) === 0))
        val refined = Similarity.ivfPqQueryRefined(idx, emb, probes, k,
            nProbe = nProbe, refine = 30)
          .localCheckpoint(true)
        val rec = Similarity.recallAtK(refined,
            Similarity.bruteForceTopKL2(emb, probes, k), k)
          .localCheckpoint(true)
        val g = rec.agg(sum(col("n_hits")).cast("long").as("h"),
          sum(col("k")).cast("long").as("p")).collect()(0)
        val (hits, possible) = (g.getAs[Long]("h"), g.getAs[Long]("p"))
        require(hits * 100L >= 80L * possible,
          s"sampled-train ANN recall gate failed: $hits/$possible < 80%")
        rec
      } finally
        org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(emb)
    }),

    "q143_ivfpq_production_serve" -> ((s, dir) => {
      // the end-to-end serving-latency story for the PRODUCTION codebook
      // (q138's kCodes=256/m=8/nLists=sqrt(n) config): build + ivfPqSave
      // ONCE (the __list-partitioned serving layout), then serve 4
      // REFINED probe batches from the LOADED index — what a retrieval
      // deployment pays per batch once the build is amortized across
      // batches and sessions. Build/save vs serve timed separately
      // (Bench "components"): the codebook trains are driver-coordinated
      // compact aggregations, steal-exposed in a way the executor-side
      // probes are not (the q57 discipline). Rows-only check: per-batch
      // arithmetic is q138's oracle; the round trip is q128's.
      val emb = t(s, dir, "embeddings")
      val n = emb.filter(col("embedding").isNotNull).count()
      val nLists = math.floor(math.sqrt(n.toDouble)).toInt
      val nProbe = math.max(1, nLists / 4)
      val base = java.nio.file.Files.createTempDirectory("graft_q143_")
      try {
        val tBuild = System.nanoTime()
        Similarity.ivfPqSave(Similarity.ivfPqBuild(emb, nLists = nLists,
          m = 8, kCodes = 256, iterations = 2), base.toString)
        Bench.recordComponent("q143_build_save",
          (System.nanoTime() - tBuild) / 1e9)
        val loaded = Similarity.ivfPqLoad(s, base.toString)
        val tServe = System.nanoTime()
        val out = (0 until 4).map { b =>
            Similarity.ivfPqQueryRefined(loaded, emb,
              localProbes(emb.filter(col("vec_id") % 100 === b)), k = 10,
              nProbe = nProbe, refine = 10)
          }.reduce(_ unionByName _)
          .groupBy(col("rank"))
          .agg(count(lit(1)).as("n"),
            sum(col("neighbor_id")).as("sum_neighbor"))
          .localCheckpoint(true) // materialize before the dir vanishes
        Bench.recordComponent("q143_serve",
          (System.nanoTime() - tServe) / 1e9)
        out
      } finally deleteRecursively(base)
    }),

    "q150_mixed_serving" -> ((s, dir) => {
      // round-9 stretch ask #7: serving latency under concurrent
      // analytic load — the contention story a per-query bench can't
      // see. One q143-style serve (load the saved __list-partitioned
      // index, 4 refined probe batches) runs CONCURRENTLY with a
      // curation scan loop (the q58 gopher pass, 3 passes over
      // documents) on the same local[32] scheduler; components split
      // serve-under-load vs scan-under-load vs the whole wall. No
      // oracle by design (arithmetic is q138/q58's; this row exists
      // for its component timings) — rows-only check.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val emb = t(s, dir, "embeddings")
      val n = emb.filter(col("embedding").isNotNull).count()
      val nLists = math.floor(math.sqrt(n.toDouble)).toInt
      val nProbe = math.max(1, nLists / 4)
      val base = java.nio.file.Files.createTempDirectory("graft_q150_")
      try {
        Similarity.ivfPqSave(Similarity.ivfPqBuild(emb, nLists = nLists,
          m = 8, kCodes = 256, iterations = 2), base.toString)
        val loaded = Similarity.ivfPqLoad(s, base.toString)
        val t0 = System.nanoTime()
        val scanF = Future {
          val tS = System.nanoTime()
          (1 to 3).foreach { _ =>
            Curate.gopherAudit(t(s, dir, "documents"), "text")
              .write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - tS) / 1e9
        }
        val tServe = System.nanoTime()
        val out = (0 until 4).map { b =>
            Similarity.ivfPqQueryRefined(loaded, emb,
              localProbes(emb.filter(col("vec_id") % 100 === b)), k = 10,
              nProbe = nProbe, refine = 10)
          }.reduce(_ unionByName _)
          .groupBy(col("rank"))
          .agg(count(lit(1)).as("n"),
            sum(col("neighbor_id")).as("sum_neighbor"))
          .localCheckpoint(true) // materialize before the dir vanishes
        Bench.recordComponent("q150_serve_under_load",
          (System.nanoTime() - tServe) / 1e9)
        Bench.recordComponent("q150_scan_under_load",
          Await.result(scanF, Duration.Inf))
        Bench.recordComponent("q150_wall",
          (System.nanoTime() - t0) / 1e9)
        out
      } finally deleteRecursively(base)
    }),

    "q154_incremental_shards" -> ((s, dir) => {
      // the weekly-crawl-refresh layout: an existing packTokenIds corpus
      // (docs with id % 3 != 0) receives a new batch (id % 3 == 0)
      // WITHOUT repacking — shipped full sequences keep their seq_ids,
      // each shard's partial tail tops up, new sequences continue. The
      // DELTA only is emitted; the oracle replays the combined
      // old-then-new stream and pins every delta sequence's id stream
      // by md5 (untouched-seq stability is spec-pinned in BpeSpec).
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
        .localCheckpoint(true) // feeds both the base layout and the batch
      try {
        val existing = Curate.packTokenIds(
          d.filter(col("doc_id") % 3 =!= 0), "__ids", "doc_id",
          budget = 2048, shardCol = "source")
        Curate.packTokenIdsIncremental(existing,
            d.filter(col("doc_id") % 3 === 0), "__ids", "doc_id",
            budget = 2048, shardCol = "source")
          .select(col("source"), col("seq_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
          .localCheckpoint(true)
      } finally
        org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
    }),

    "q155_incremental_pipeline" -> ((s, dir) => {
      // the weekly crawl refresh END-TO-END (round-10 ask #4): one new
      // batch (doc_id % 3 == 0) flows through q80's exact incremental
      // dedup (vs the prior corpus), q88's near incremental dedup
      // (Portable minhash, vs prior), q92's 5-gram decontamination (vs
      // a held-out benchmark slice of the prior corpus), the production
      // byte-BPE encode, and q154's incremental shard append — so the
      // O(batch) contract is pinned ACROSS stage boundaries, not
      // per-operator. Every stage keeps its already-oracled config; the
      // oracle replays the whole chain and pins every delta sequence's
      // id stream by md5.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .localCheckpoint(true) // feeds the layout + three dedup stages
      try {
        val prior = d.filter(col("doc_id") % 3 =!= 0)
        val batch = d.filter(col("doc_id") % 3 === 0)
        val exactKept = Dedup.exactIncremental(batch, prior,
          "text", "doc_id")
        val nearKept = Dedup.nearIncremental(exactKept, prior, "text",
          "doc_id", numHashes = 32, bands = 8, threshold = 0.8,
          mode = Dedup.Portable)
        val cleaned = Dedup.ngramDecontaminate(nearKept,
            prior.filter(col("doc_id") % 17 === 3), "text", "doc_id",
            n = 5, minMatches = 2)
          .filter(!col("contaminated")).drop("n_matched", "contaminated")
        val withIds = cleaned.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
        val existing = Curate.packTokenIds(
          prior.withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
          "__ids", "doc_id", budget = 2048, shardCol = "source")
        Curate.packTokenIdsIncremental(existing, withIds, "__ids",
            "doc_id", budget = 2048, shardCol = "source")
          .select(col("source"), col("seq_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
          .localCheckpoint(true)
      } finally
        org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
    }),

    "q157_streaming_shards" -> ((s, dir) => {
      // q154's O(batch) shard append as a REAL micro-batch sink
      // (round-10 stretch #8): the corpus arrives as four id-ordered
      // drops, one per trigger (StagedDrops' layout); each batch is
      // tokenized in-stream and appended as a DELTA-ONLY version to the
      // parquet shard store by packTokenIdsIncremental inside
      // foreachBatch (write volume O(batch), not O(store)). Because
      // batches arrive in id order, the FINAL store must equal the
      // one-shot packTokenIds of the whole corpus — q147's corpus-wide
      // md5 oracle, now pinning a store the STREAMING ENGINE built
      // through four incremental appends.
      StagedDrops.withCorpus(t(s, dir, "documents"),
          "graft_shards_") { c =>
        val base = c.base
        StagedDrops.stageAll(StagedDrops.idCuts(c.docs, "doc_id", 4)
          .drops(c.docs, "doc_id"), s"$base/in")
        val stream = StagedDrops.open(s, s"$base/in")
          .withColumn("__ids",
            Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
        graft.streaming.ShardSink.run(stream, "__ids", "doc_id",
          budget = 2048, shardCol = "source",
          storeDir = s"$base/store", checkpointDir = s"$base/ck")
        graft.streaming.ShardSink.read(s, s"$base/store")
          .select(col("source"), col("seq_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
          .localCheckpoint(true)
      }
    }),

    "q156_avi_frames" -> ((s, dir) => {
      // the REAL video container (three-rounds-carried ask, closed with
      // code rather than a waiver): per doc, a standards-layout AVI —
      // RIFF(hdrl avih + vids/MJPG strl, movi of '00dc' chunks, idx1) —
      // muxing 2 + doc_id % 3 real JDK JPEG frames; demuxed by the
      // pure-JVM RIFF walker and per-frame ImageIO-decoded through the
      // SAME frameStats operator GFRM uses (container dispatch by
      // magic). JPEG pixels are decoder-defined (q142's contract), so
      // the oracle pins the decoder-invariant surface: every frame
      // decodes, at the fixture's exact dimensions, with the exact
      // frame count.
      val withAvi = Multimodal.attachAviPayload(
        s, t(s, dir, "documents"), "doc_id")
      Multimodal.frameStats(s, withAvi, "doc_id")
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("decode_ok"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),

    "q152_bpe1k_roundtrip" -> ((s, dir) => {
      // the loader side of the tokenizer: decode(encode(text)) must
      // reproduce the text BYTE-FOR-BYTE (byte-level BPE has no
      // normalize step to lose). Spark computes the full round trip —
      // ids via the single-pass codegen encode, text back via the
      // expansion-table decode — and the oracle pins the decoded string
      // against the ORIGINAL text's md5: a wrong expansion anywhere in
      // the 1,280-symbol table breaks the hash. Corpus-wide, not
      // sampled (the round trip is cheap).
      t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
        .select(col("doc_id"),
          size(col("__ids")).cast("long").as("n_tokens"),
          md5(Bpe.byteDecode(col("__ids"), BpeByteVocab.merges))
            .as("decoded_md5"),
          (Bpe.byteDecode(col("__ids"), BpeByteVocab.merges)
            === col("text")).as("roundtrip_ok"))
    }),

    "q151_shards_with_ids" -> ((s, dir) => {
      // the flagship, finished: q133 chained both pipelines but its
      // shards held text + counts; this runs the SAME chain (curate ->
      // semantic decontamination -> cut repeated spans) and then emits
      // what a training shard PHYSICALLY contains — per-(source, seq)
      // rows of <= 2048 production byte-BPE token ids (packTokenIds over
      // byteTokenIds). The oracle replays the whole chain AND pins every
      // sequence's id stream by md5 — a user could hand the output
      // directly to a loader and the bytes are bit-pinned.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val kept = Curate.curate(docs, "text", "doc_id",
          keepLangs = Seq("en", "es"), minQuality = 0.3)
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"), "left")
      val kept2 = Dedup.semanticDecontaminate(kept,
          emb.filter(col("vec_id") < 32), "embedding", "doc_id",
          thresholdPct = 50)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true) // feeds the span-gram pass twice + rejoin
      val cut = Dedup.cutRepeatedSpans(kept2, "text", "doc_id",
        n = 8, minDf = 2, mode = Dedup.Portable)
      val withIds = cut
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
      val out = Curate.packTokenIds(withIds, "__ids", "doc_id",
          budget = 2048, shardCol = "source")
        .select(col("source"), col("seq_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
        .localCheckpoint(true)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(kept2)
      out
    }),

    "q144_bpe1k_quality" -> ((s, dir) => {
      // the compression-ratio quality gate: docs that compress poorly
      // under the production byte-level vocab are junk candidates (the
      // vocabulary IS the quality model). Integer-exact keep rule; the
      // oracle replays the full merge chain per doc and the same rule.
      // Threshold 8.0 bytes/token sits inside this corpus's 6.8-10.6
      // ratio range, so the gate DISCRIMINATES here (~bottom decile
      // flagged) and the hash oracle exercises the integer boundary.
      Curate.compressionGate(t(s, dir, "documents"), "text",
          BpeByteVocab.merges, minRatioTenths = 80)
        .select(col("doc_id"), col("n_bytes"), col("n_tokens"),
          coalesce(col("compress_reason"), lit("pass")).as("reason"))
    }),

    "q145_bpe1k_packing" -> ((s, dir) => {
      // q104's tokenizer-faithful packing, budgeted by the PRODUCTION
      // byte-level vocab — the count column the 2048-token packer would
      // actually consume in a training pipeline
      val d = t(s, dir, "documents").withColumn("__bpe",
        Bpe.byteTokenCount(col("text"), BpeByteVocab.merges).cast("long"))
      Curate.packSequences(d, "text", "doc_id", budget = 2048,
          shardCol = "source", tokenCountCol = Some("__bpe"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_count")).as("sum_tokens"),
          min(col("seq_offset")).as("first_offset"))
    }),

    "q140_bpe1k_tokens" -> ((s, dir) => {
      // the production-size BPE demonstration (the round-7/8/9 carried
      // ask #3): per-doc token counts under the committed 1024-merge
      // BYTE-LEVEL vocab, computed by ONE native expression for the
      // whole chain (a 1k-deep replace() Column chain would blow codegen
      // limits). Oracle = the full merge-chain replay as a 1024-step
      // recursive CTE over a deterministic doc_id-hash sample — every
      // merge of every sampled doc is hash-pinned; the corpus-wide mass
      // is pinned by q141.
      t(s, dir, "documents")
        .filter(col("doc_id") % 29 === 3 && col("text").isNotNull)
        .select(col("doc_id"),
          Bpe.byteTokenCount(col("text"), BpeByteVocab.merges)
            .cast("long").as("n_tokens"))
    }),

    "q141_bpe1k_mass" -> ((s, dir) => {
      // the full-corpus pin for the byte-level tier: total token mass +
      // doc count under the committed vocab (what a token-budget
      // mixture/packing stage consumes). DuckDB replays the chain over
      // EVERY doc at the correctness SF — corpus coverage, not sampling.
      t(s, dir, "documents").filter(col("text").isNotNull)
        .agg(count(lit(1)).as("n_docs"),
          sum(Bpe.byteTokenCount(col("text"), BpeByteVocab.merges)
            .cast("long")).as("token_mass"))
    }),

    "q146_bpe1k_token_ids" -> ((s, dir) => {
      // the round-9 ask #1: the token-id ARRAYS themselves (not counts) —
      // what a training shard physically contains. Same deterministic
      // doc_id-hash sample as q140; the oracle replays the full
      // 1024-merge recursive-CTE chain AND maps every char of the merged
      // string back to its id, so each id at each position is hash-pinned
      // (the space-joined serialization is the oracle-portable array
      // form). count == ids.length by construction (one shared codec
      // loop), asserted here by emitting both.
      t(s, dir, "documents")
        .filter(col("doc_id") % 29 === 3 && col("text").isNotNull)
        .select(col("doc_id"),
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges).as("__ids"))
        .select(col("doc_id"), size(col("__ids")).cast("long").as("n_tokens"),
          Bpe.idsString(col("__ids")).as("ids_str"))
    }),

    "q147_token_shards" -> ((s, dir) => {
      // the physical training shard: per (source, seq) rows of at most
      // 2048 production-vocab token ids (Curate.packTokenIds — the
      // token-level materialization of q145's layout). The oracle replays
      // encode + pack + cut over the WHOLE corpus and pins each
      // sequence's id stream via md5 of its space-joined ids — corpus
      // coverage of the actual shard payload, not a sample.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
      Curate.packTokenIds(d, "__ids", "doc_id", budget = 2048,
          shardCol = "source")
        .select(col("source"), col("seq_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          md5(Bpe.idsString(col("token_ids"))).as("ids_md5"))
    }),

    "q139_decontaminate_scaled" -> ((s, dir) => {
      // corpus-scale semantic decontamination (the round-7/8/9 carried
      // ask #2): q119's exact fixture and integer-cosine rule, but the
      // reference meets the corpus through a banded sign-LSH equi join
      // instead of a broadcast nested loop — the shape that survives a
      // corpus-scale reference set. The oracle replays prefilter AND
      // verify, so the hash gate pins the whole path bit-for-bit;
      // q119-parity on this fixture is pinned in DedupSimilaritySpec.
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDecontaminateAtScale(
          emb.filter(col("vec_id") >= 32),
          emb.filter(col("vec_id") < 32),
          "embedding", "vec_id", thresholdPct = 50,
          nBits = 4, bands = 8)
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_ids"))
    }),

    "q133_corpus_to_shards" -> ((s, dir) => {
      // the FULL corpus-to-training-data flagship, chaining BOTH
      // pipelines: text curation (dedup+lang+quality) -> SEMANTIC
      // decontamination via the docs' embeddings (docs without an
      // embedding carry no evidence and are kept — the NULL contract)
      // -> cut cross-document repeated spans -> BPE token budget ->
      // 2048-token packing per source shard. One oracle pins the chain.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val kept = Curate.curate(docs, "text", "doc_id",
          keepLangs = Seq("en", "es"), minQuality = 0.3)
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"), "left")
      val kept2 = Dedup.semanticDecontaminate(kept,
          emb.filter(col("vec_id") < 32), "embedding", "doc_id",
          thresholdPct = 50)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true) // feeds the span-gram pass twice + rejoin
      val cut = Dedup.cutRepeatedSpans(kept2, "text", "doc_id",
        n = 8, minDf = 2, mode = Dedup.Portable)
      val withBudget = cut
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("__bpe",
          Bpe.tokenCount(col("text"), BpeVocab.merges).cast("long"))
      val out = Curate.packSequences(withBudget, "text", "doc_id",
          budget = 2048, shardCol = "source", tokenCountCol = Some("__bpe"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_count")).as("sum_tokens"),
          sum(col("n_tokens_cut")).as("cut_tokens"))
        .localCheckpoint(true)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(kept2)
      out
    }),

    "q132_ivfpq_nprobe_sweep" -> ((s, dir) => {
      // the tuning loop operators use to pick nProbe for a recall
      // target: recall@5 at nProbe = 1..4 against the exact integer-L2
      // ground truth, one row per setting
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 4)
      val idx = Similarity.ivfPqBuild(emb, nLists = 4, m = 4, kCodes = 8,
        iterations = 2)
      val exact = Similarity.bruteForceTopKL2(emb, probes, k = 5)
        .localCheckpoint(true) // consumed by all four sweep points
      (1 to 4).map { n =>
        Similarity.recallAtK(
            Similarity.ivfPqQuery(idx, probes, k = 5, nProbe = n),
            exact, k = 5)
          .agg(sum(col("n_hits")).as("n_hits"))
          .select(lit(n.toLong).as("n_probe"), col("n_hits"),
            lit(20L).as("n_possible"))
      }.reduce(_ unionByName _)
    }),

    "q131_streaming_decontaminate" -> ((s, dir) => {
      // the decontamination gate through the REAL streaming engine:
      // file-source corpus stream, STATIC broadcast benchmark, the
      // stateless broadcast-anti filter applied in-flight, AvailableNow
      // to parquet, landed table hash-compared vs q119's batch oracle
      val streamed = Dedup.semanticDecontaminate(
        streamTable(s, dir, "embeddings").filter(col("vec_id") >= 32),
        t(s, dir, "embeddings").filter(col("vec_id") < 32),
        "embedding", "vec_id", thresholdPct = 50)
      streamToResult(s, streamed.drop("__ts")) { df =>
        df.groupBy(col("label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_ids"))
      }
    }),

    "q135_streaming_sessionize" -> ((s, dir) => {
      // gap-sessionization through the REAL engine: flatMapGroupsWithState
      // fragment-list state, event-time timeout, AvailableNow. REAL event
      // times drive the watermark (unlike the constant-ts q105/q106
      // pattern), so the engine emits exactly the sessions the final
      // watermark SEALS — end + gap <= max(ts) - delay — and the oracle
      // replays that subset of the q82 batch sessions. The delay carries
      // a 500 ms offset so the seal comparison can never tie: stream
      // state is ms-granular, all inputs are whole seconds.
      val sessions = graft.streaming.Sessionize.sessions(
        streamEvents(s, dir)
          .select(col("user_id").cast("string").as("key"), col("ts")),
        gap = "30 minutes", watermark = "3600500 milliseconds")
      streamToResult(s, sessions.toDF()) { landed =>
        landed.groupBy(col("key").cast("long").as("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_len"))
      }
    }),

    "q136_streaming_funnel" -> ((s, dir) => {
      // the ordered-step funnel through the real engine: chain + candidate
      // buffer state, sealed (one row per key) when the watermark passes
      // t_last + within. Emitted set = q83's greedy chains restricted to
      // keys that reached step 1 AND sealed: t_last <= max(ts) - delay -
      // within; same 500 ms tie-killer as q135.
      val f = graft.streaming.StreamingFunnel.funnel(
        streamEvents(s, dir)
          .select(col("user_id").cast("string").as("key"), col("ts"),
            col("event_type")),
        steps = Seq("view", "click", "purchase"),
        withinMs = 7L * 24 * 3600 * 1000,
        watermark = "3600500 milliseconds")
      streamToResult(s, f.toDF()) { landed =>
        landed.select(col("key").cast("long").as("user_id"),
          col("steps_completed"),
          unix_timestamp(element_at(col("step_ts"), 1)).as("t_1"),
          unix_timestamp(element_at(col("step_ts"), 2)).as("t_2"),
          unix_timestamp(element_at(col("step_ts"), 3)).as("t_3"))
      }
    }),

    "q137_streaming_heavy_hitters" -> ((s, dir) => {
      // windowed Misra-Gries through the real engine: hour-slot synthetic
      // event time per doc (deterministic doc_id arithmetic), 1 h tumbling
      // windows, watermark-finalized append output — only windows whose
      // end precedes the final watermark land. capacity 64 > the corpus
      // vocabulary, so the sketch is exact and plain counting SQL is the
      // oracle (q71's contract, per sealed window).
      // exact-regime precondition ENFORCED, not assumed: the counting-SQL
      // oracle is valid only while every window's vocabulary fits the
      // sketch capacity — a fixture/scale change that overflows it would
      // otherwise fail the hash gate with a confusing diff instead of
      // this message
      val capacity = 64
      val maxVocab = t(s, dir, "documents")
        .select((col("doc_id") % 4).as("__slot"),
          explode(array_distinct(T.tokens(T.normalized(col("text")))))
            .as("__term"))
        .groupBy(col("__slot"))
        .agg(countDistinct(col("__term")).as("__v"))
        .agg(max(col("__v")).as("__mx")).collect()(0).getAs[Long]("__mx")
      require(maxVocab <= capacity,
        s"q137 exact-regime precondition broken: window vocabulary " +
          s"$maxVocab > Misra-Gries capacity $capacity — the counting " +
          s"oracle no longer matches the (now approximate) sketch")
      val withTs = streamTable(s, dir, "documents")
        .withColumn("__ev",
          timestamp_seconds(lit(1704067200L) + (col("doc_id") % 4) * 3600L))
        .withWatermark("__ev", "500 milliseconds")
      val hh = graft.streaming.StreamingHeavyHitters.topTokens(
        withTs, "text", "__ev", windowDur = "1 hour", capacity = capacity,
        k = 10)
      streamToResult(s, hh) { landed =>
        landed.select(unix_timestamp(col("window_start")).as("win_start"),
          col("rank"), col("item"), col("cnt"))
      }
    }),

    "q149_streaming_rolling" -> ((s, dir) => {
      // the rolling trailing-hour aggregate through the REAL engine
      // (flatMapGroupsWithState event-buffer state, event-time timeout,
      // AvailableNow) — closes the last streaming-relevant surface
      // without a real-engine row (round-9 ask #6). Real event times
      // drive the watermark; only events the final watermark SEALS emit
      // (a frame looks backward only, so sealed rows carry exactly the
      // batch rollingAgg values — q84's math), and the oracle replays
      // that subset: sec <= max(sec) - 3601 under the 3600500 ms delay
      // (the q135 no-tie offset; inputs are whole seconds).
      val rolled = graft.streaming.StreamingRollingAgg.rolling(
        streamEvents(s, dir)
          .select(col("user_id").cast("string").as("key"), col("event_id"),
            col("ts"), col("value")),
        windowSeconds = 3600, watermark = "3600500 milliseconds")
      streamToResult(s, rolled.toDF()) { landed =>
        landed.select(col("event_id"), col("roll_n"), col("roll_sum"))
      }
    }),

    "q172_stream_stream_join" -> ((s, dir) => {
      // view->click attribution through the ENGINE's own stream-stream
      // left-outer interval join — the one streaming-join surface the
      // custom-state twins (q135/q136/q149) don't cover, exercised on
      // the symmetric-hash join operator itself (state eviction by
      // derived state-value watermarks, late null-extension). Two
      // independent file sources over the same events fixture, each
      // side watermarked AFTER its type filter so each side's watermark
      // is its OWN max event time - 500 ms and the global watermark is
      // their min — unambiguous seal arithmetic. Joined on user with
      // c_ts in [v_ts, v_ts + 6 h]. Matched pairs emit as found (inner
      // results are watermark-independent and complete under
      // AvailableNow); an unmatched view emits null-extended only once
      // the watermark proves no admissible click can still arrive:
      // v_ms + 21 600 000 < wm_ms  <=>  v_sec <= min(max_view,
      // max_click) - 21601 (the q135 500 ms tie-killer: all inputs are
      // whole seconds, so strict-vs-inclusive eviction can never tie).
      // The oracle replays exactly that — all interval pairs + the
      // sealed orphans — with pair identity pinned by an integer pair
      // checksum, not just marginal counts.
      val views = streamEvents(s, dir)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_uid"), col("event_id").as("vid"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "500 milliseconds")
      val clicks = streamEvents(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("event_id").as("cid"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "500 milliseconds")
      val joined = views.join(clicks,
        col("v_uid") === col("c_uid") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
      // SCALE-ADAPTIVE state sizing (guide §2.5): the symmetric-hash
      // join maintains 4 state stores per side per partition, and every
      // micro-batch (including the final watermark-flush no-data batch)
      // loads and commits ALL of them — a per-trigger cost proportional
      // to the PARTITION COUNT, not the data. Size the stateful shuffle
      // from the stream's input bytes (one 128 MB-class state partition
      // per input split, the scan-split rule applied to state), capped
      // at the session's parallelism: at production volume the formula
      // returns the session value unchanged; on a small drop it stops
      // paying hundreds of empty store commits per trigger. Measured
      // here: 8 cores BEAT 32 on this row (PERF_r17 scaling 0.34)
      // purely through the partition count riding the core count.
      val prevSp = s.conf.get("spark.sql.shuffle.partitions")
      val inBytes = new java.io.File(s"$dir/events.parquet").length()
      s.conf.set("spark.sql.shuffle.partitions",
        math.max(1L, math.min(prevSp.toLong,
          inBytes / (128L << 20) + 1L)).toString)
      try streamToResult(s, joined) { landed =>
        s.conf.set("spark.sql.shuffle.partitions", prevSp)
        landed.groupBy(col("v_uid").as("user_id"))
          .agg(count(col("cid")).as("n_pairs"),
            sum(when(col("cid").isNull, 1L).otherwise(0L))
              .as("n_orphans"),
            coalesce(sum(unix_timestamp(col("c_ts"))
              - unix_timestamp(col("v_ts"))), lit(0L)).as("lag_sum"),
            coalesce(sum(col("vid") * 31 + col("cid")), lit(0L))
              .as("pair_ck"),
            sum(when(col("cid").isNull, col("vid")).otherwise(0L))
              .as("orphan_ck"))
      } finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
    }),

    "q130_ann_recall" -> ((s, dir) => {
      // the ANN quality loop: recall@5 of the nProbe=2 IVF-PQ probe
      // against the exact integer-L2 top-5 ground truth — the metric
      // every ANN deployment tracks, here oracled end-to-end (both
      // sides deterministic)
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 4)
      val idx = Similarity.ivfPqBuild(emb, nLists = 4, m = 4, kCodes = 8,
        iterations = 2)
      Similarity.recallAtK(
        Similarity.ivfPqQuery(idx, probes, k = 5, nProbe = 2),
        Similarity.bruteForceTopKL2(emb, probes, k = 5), k = 5)
    }),

    "q129_scalar_quantize" -> ((s, dir) => {
      // int8 embedding compression: per-dim min/span fit (one compact
      // agg) + row-local encode; checksum pins every dimension's code
      val emb = t(s, dir, "embeddings")
      val sq = Similarity.scalarQuantizeFit(emb)
      Similarity.scalarQuantizeEncode(emb, sq)
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, v) => a + v)
            .as("code_checksum"),
          element_at(col("codes"), 1).as("c_d0"),
          element_at(col("codes"), 64).as("c_dlast"))
    }),

    "q128_ivfpq_persisted" -> ((s, dir) => {
      // the compressed serving path end-to-end: build -> ivfPqSave
      // (encoded parquet partitioned by __list) -> ivfPqLoad -> probe.
      // Identical arithmetic to q127, so its oracle holds — what's new
      // under test is the round trip and the list-partitioned layout
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_")
      try {
        Similarity.ivfPqSave(Similarity.ivfPqBuild(emb, nLists = 4, m = 4,
          kCodes = 8, iterations = 2), base.toString)
        val loaded = Similarity.ivfPqLoad(s, base.toString)
        Similarity.ivfPqQuery(loaded, emb.filter(col("vec_id") < 4), k = 5,
            nProbe = 2)
          .localCheckpoint(true) // materialize before the dir vanishes
      } finally deleteRecursively(base)
    }),

    "q126_embedding_pipeline" -> ((s, dir) => {
      // the embedding-side composed flagship (q114's twin): semantic
      // decontamination vs the benchmark slice -> near-dup prune
      // (pairs + transitive closure) -> growth-stable split -> epoch
      // ordering of the train split. One oracle pins the whole chain,
      // including the permutation itself (sum of pos*vec_id per shard).
      val emb = t(s, dir, "embeddings")
      val clean = Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") >= 32), emb.filter(col("vec_id") < 32),
        "embedding", "vec_id", thresholdPct = 50)
      val pruned = Dedup.semanticPrune(clean, "embedding", "vec_id",
        threshold = 0.4, nBits = 4, bands = 8, maxBucket = 64, dim = 64)
      val train = Curate.splitCorpus(pruned, "vec_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
      Curate.trainingOrder(train, "vec_id", nShards = 4, salt = "epoch1")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sum_ids"),
          sum(col("pos") * col("vec_id")).as("order_checksum"))
    }),

    "q123_leak_safe_split" -> ((s, dir) => {
      // eval-leak guard: near-dup clusters (q32's pair family) must land
      // in ONE split — the split hash runs over the cluster label, so a
      // doc and its near-duplicate can never straddle train/test
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
        threshold = 0.4, nBits = 4, bands = 8, maxBucket = 64)
      Curate.leakSafeSplit(emb, pairs, "vec_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sum_ids"))
    }),

    "q124_keep_best_per_cluster" -> ((s, dir) => {
      // quality-aware dedup: per near-dup cluster (q26's minhash pair
      // family) keep the LONGEST text (ties -> lowest id), not the
      // lowest id — the curation rule for near-duplicate crawls
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"),
          when(col("text").isNotNull, length(col("text")))
            .as("quality"))
      val pairs = Dedup.minhashPairs(d, "text", "doc_id", numHashes = 32,
        bands = 8, threshold = 0.7, shingleN = 1, mode = Dedup.Portable)
      Dedup.keepBestPerCluster(d, pairs, "doc_id", "quality")
        .select(col("doc_id"), col("quality").cast("long").as("quality"))
    }),

    "q122_pq_ann_persisted" -> ((s, dir) => {
      // PQ cross-session serving path: train -> encode -> pqSave (the
      // compressed code table + codebook parquet) -> pqLoad -> ADC.
      // Same deterministic arithmetic as q118, so its oracle holds —
      // what's new under test is the save/load round trip
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_pq_")
      try {
        val cb = Similarity.pqTrain(emb, m = 4, kCodes = 8, iterations = 2)
        Similarity.pqSave(Similarity.pqEncode(emb, cb), cb, base.toString)
        val (codes, loaded) = Similarity.pqLoad(s, base.toString)
        Similarity.pqQuery(codes, emb.filter(col("vec_id") < 4), loaded,
            k = 5)
          .localCheckpoint(true) // materialize before the dir vanishes
      } finally deleteRecursively(base)
    }),

    "q121_hard_negatives" -> ((s, dir) => {
      // contrastive negatives: nearest corpus rows with a DIFFERENT
      // label — probes broadcast, corpus scanned once, k-heap pruned
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8), k = 5)
        .select(col("probe_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"),
          round(col("cos"), 6).as("cos_r"))
    }),

    "q119_semantic_decontaminate" -> ((s, dir) => {
      // paraphrase-level decontamination: benchmark = the 32 lowest
      // vec_ids (broadcast), corpus = the rest; keep/drop decided by the
      // exact integer-unit cosine rule, so the oracle replays it
      // bit-for-bit — no float ties at the threshold
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDecontaminate(
          emb.filter(col("vec_id") >= 32),
          emb.filter(col("vec_id") < 32),
          "embedding", "vec_id", thresholdPct = 50)
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_ids"))
    }),

    "q120_training_order" -> ((s, dir) => {
      // reproducible epoch permutation: salted-hash shard + dense
      // in-shard position — one hash exchange, no global total order
      Curate.trainingOrder(t(s, dir, "documents"), "doc_id", nShards = 8,
          salt = "epoch1")
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    "q118_pq_ann" -> ((s, dir) => {
      // ADC top-k over the PQ code table: probes stay full-precision,
      // each corpus row costs 4 codeword lookups on a representation
      // ~32x smaller than the raw vectors — the serving shape at 100 TB.
      // Integer-exact end to end, so DuckDB replays train+encode+ADC.
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqTrain(emb, m = 4, kCodes = 8, iterations = 2)
      val codes = Similarity.pqEncode(emb, cb)
      Similarity.pqQuery(codes, emb.filter(col("vec_id") < 4), cb, k = 5)
    }),

    "q115_perceptron_training" -> ((s, dir) => {
      // ON-CLUSTER classifier training in the correctness gate: 5 epochs
      // of integer batch perceptron over engineered doc features; the
      // oracle replays the full weight trajectory as chained CTEs. The
      // label is the fixture lang tag; features are capped integers.
      Curate.trainPerceptron(perceptronFeatures(t(s, dir, "documents")),
        perceptronFeatCols, "y", epochs = 5)
    }),

    "q125_perceptron_inference" -> ((s, dir) => {
      // the train -> serve handoff in one engine: fit the q115 model,
      // then score the corpus ROW-LOCALLY (weights as literals, no
      // shuffle) and report the integer confusion counts. NULL-feature
      // rows predict NULL on both engines (no silent class assignment).
      val feats = perceptronFeatures(t(s, dir, "documents"))
      val (b, w) = Curate.fitPerceptron(feats, perceptronFeatCols,
        "y", epochs = 5)
      Curate.applyPerceptron(feats, perceptronFeatCols, b, w)
        .groupBy(col("y"), col("prediction"))
        .agg(count(lit(1)).as("n"))
    }),

    "q114_training_pipeline" -> ((s, dir) => {
      // the composed flagship: curate (dedup+lang+quality) -> cut
      // cross-document repeated spans from the SURVIVORS -> count the
      // cleaned text in BPE tokens -> pack into 2048-token training
      // sequences per source shard. One oracle pins the whole chain.
      val docs = t(s, dir, "documents")
      // the curated frame feeds the span-gram pass (twice, by design) AND
      // the final rejoin — materialize its exact-dup window shuffle ONCE
      // and release after the result lands (perplexityBuckets discipline)
      val kept = Curate.curate(docs, "text", "doc_id",
          keepLangs = Seq("en", "es"), minQuality = 0.3)
        .localCheckpoint(true)
      val cut = Dedup.cutRepeatedSpans(kept, "text", "doc_id",
        n = 8, minDf = 2, mode = Dedup.Portable)
      val withBudget = cut
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("__bpe",
          Bpe.tokenCount(col("text"), BpeVocab.merges).cast("long"))
      val out = Curate.packSequences(withBudget, "text", "doc_id",
          budget = 2048, shardCol = "source", tokenCountCol = Some("__bpe"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_count")).as("sum_tokens"),
          sum(col("n_tokens_cut")).as("cut_tokens"))
        .localCheckpoint(true)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(kept)
      out
    }),

    "q109_repeated_spans" -> ((s, dir) => {
      // ExactSubstr-style sequence dedup (Lee et al. 2022), gram-wise:
      // cross-document repeated 8-gram positions merged to maximal spans
      Dedup.repeatedSpans(t(s, dir, "documents"), "text", "doc_id",
          n = 8, minDf = 2, mode = Dedup.Portable)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start")).as("covered_tokens"),
          sum(col("n_grams")).as("n_grams"))
    }),

    "q110_cut_repeated_spans" -> ((s, dir) => {
      // the remedy: cut the repeated spans, keep the document; md5 of the
      // rebuilt text pins the cut token-exactly on both engines
      Dedup.cutRepeatedSpans(t(s, dir, "documents"), "text", "doc_id",
          n = 8, minDf = 2, mode = Dedup.Portable)
        .select(col("doc_id"), col("n_tokens_kept"), col("n_tokens_cut"),
          md5(col("text")).as("text_md5"))
    }),

    "q107_audio_decode_stats" -> ((s, dir) => {
      // REAL audio codec: PCM16 WAV fixture (AudioFixture arithmetic) ->
      // javax.sound AudioSystem decode -> exact integer waveform stats;
      // DuckDB replays the sample formula (WAV PCM is lossless)
      val withPayload = Multimodal.attachAudioPayload(s, t(s, dir, "documents"), "doc_id")
      Multimodal.audioFeaturize(s, withPayload, "doc_id")
        .where(col("decode_ok"))
        .select(col("doc_id"), col("n_samples").cast("long").as("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("sum_s"), col("sumsq_s"), col("zero_cross"))
    }),

    "q108_audio_resample_stats" -> ((s, dir) => {
      // REAL codec round trip x2: WAV encode -> decode -> 3x decimation on
      // the decoded samples -> re-encode -> decode -> stats
      val withPayload = Multimodal.attachAudioPayload(s, t(s, dir, "documents"), "doc_id")
      val resampled = Multimodal.audioResample(s, withPayload, "doc_id", factor = 3)
      Multimodal.audioFeaturize(s, resampled, "doc_id")
        .where(col("decode_ok"))
        .select(col("doc_id"), col("n_samples").cast("long").as("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("sum_s"), col("zero_cross"))
    }),

    "q44_salted_join" -> ((s, dir) => {
      // skew-salted equi-join: user_id % 5 concentrates 2M events onto 5
      // keys — the pathological reducer-melting shape; salting spreads
      // each hot key over 8 shuffle partitions with identical results
      // (the oracle is the PLAIN SQL join)
      val e = t(s, dir, "events").select(col("event_id"), col("value"),
        (col("user_id") % 5).as("r_regionkey"))
      Joins.saltedJoin(e, t(s, dir, "region"), Seq("r_regionkey"),
          salt = 8, joinType = "left")
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"))
    }),

    // ================= extensions: corpus curation =========================
    "q42_stratified_sample" -> ((s, dir) => {
      // deterministic portable-hash sampling: reproducible across engines
      // (the oracle applies the identical md5 arithmetic) and stable under
      // corpus growth — a row's fate depends only on its own id
      Curate.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
          rates = Map("src0" -> 1.0, "src1" -> 0.1), defaultRate = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q48_dedup_clusters" -> ((s, dir) => {
      // transitive near-dup clustering: A~B, B~C => one cluster {A,B,C}
      // (iterative min-label propagation; the oracle is a recursive CTE)
      val pairs = Dedup.minhashPairs(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "text", "doc_id", numHashes = 32, bands = 8,
        threshold = 0.3, shingleN = 1, mode = Dedup.Portable)
      Dedup.clusters(pairs)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    }),

    "q47_decontamination" -> ((s, dir) => {
      // test-set decontamination: every 20th doc stands in for a benchmark
      // suite; corpus rows matching it exactly or near (sig agreement
      // >= 0.8) are flagged, corpus never shuffled (broadcast reference)
      val docs = t(s, dir, "documents")
      Dedup.contaminationFlags(docs, docs.filter(col("doc_id") % 20 === 0),
          "text", "doc_id", numHashes = 32, bands = 8, threshold = 0.8,
          shingleN = 3, mode = Dedup.Portable)
        .groupBy(col("exact_contaminated"), col("near_contaminated"))
        .agg(count(lit(1)).as("n"))
    }),

    "q46_exact_quantiles" -> ((s, dir) => {
      // exact distributed order statistics (rank window + conditional agg,
      // no collect): the analytics-surface family the reference lacks
      graft.functions.Stats.exactQuantiles(t(s, dir, "events"),
        Seq("event_type"), "value", Seq(0.5, 0.95, 0.99))
    }),

    "q45_sequence_packing" -> ((s, dir) => {
      // GPT-style token-stream packing, sharded by source (no global sort):
      // per (shard, sequence) doc counts and fill levels
      Curate.packSequences(t(s, dir, "documents"), "text", "doc_id",
          budget = 512, shardCol = "source")
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_count")).as("sum_tokens"),
          min(col("seq_offset")).as("first_offset"))
    }),

    "q103_bpe_token_count" -> ((s, dir) => {
      // corpus-trained byte-pair encoding (committed vocab, BpeSpec pins
      // provenance): token count = one row-local chain of codegen'd
      // replaces; the oracle replays the SAME merge table in DuckDB.
      // Whitespace proxy alongside for the fertility comparison.
      t(s, dir, "documents").select(col("doc_id"),
        Bpe.tokenCount(col("text"), BpeVocab.merges).cast("long").as("n_bpe"),
        T.tokenCount(col("text")).cast("long").as("n_ws"))
    }),

    "q104_bpe_sequence_packing" -> ((s, dir) => {
      // tokenizer-faithful q45: packing budgeted by the BPE count column
      // instead of the whitespace proxy (tokenCountCol wiring)
      val d = t(s, dir, "documents").withColumn("__bpe",
        Bpe.tokenCount(col("text"), BpeVocab.merges).cast("long"))
      Curate.packSequences(d, "text", "doc_id", budget = 2048,
          shardCol = "source", tokenCountCol = Some("__bpe"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_count")).as("sum_tokens"),
          min(col("seq_offset")).as("first_offset"))
    }),

    "q105_streaming_curate" -> ((s, dir) => {
      // the ACTUAL streaming execution path (file source -> watermark ->
      // dropDuplicatesWithinWatermark state store -> AvailableNow -> parquet
      // sink), hash-compared against the batch-semantics oracle. Counting
      // per lang (a pure function of text, identical for all copies of a
      // fingerprint) keeps the result arrival-order-invariant; count(1)
      // equals COUNT(DISTINCT fp) only if the stream dedup actually
      // deduplicated, so the state store is what's being checked
      val curated = Curate.curateStream(streamTable(s, dir, "documents"),
        "text", "__ts", keepLangs = Seq("en", "es"), minQuality = 0.3)
      streamToResult(s, curated) { landed =>
        landed.groupBy(T.langId(col("text")).as("lang"))
          .agg(count(lit(1)).as("n_docs"))
      }
    }),

    "q106_streaming_neardup" -> ((s, dir) => {
      // streaming LSH near-dup twin run through the real engine:
      // flatMapGroupsWithState bucket state, emitted pairs landed in
      // parquet; constant event time puts the whole corpus in one horizon
      // so the pair SET equals the banded-LSH closed form the oracle
      // replays (members capped per bucket in (ts,id)=id order)
      // doc_id % 5 sample (the q26 discipline): the unigram-shingle fixture
      // corpus is near-dup-dense, and the UNSAMPLED pair set (31k rows at
      // sf0.01) would make this a result-volume benchmark, not a state
      // -store check. Filter sits on the streamed frame -> pushed to scan.
      val pairs = StreamingNearDup.pairs(
        streamTable(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "text", "doc_id", "__ts", numHashes = 32, bands = 8,
        threshold = 0.8, shingleN = 1, maxBucket = 256,
        mode = Dedup.Portable)
      streamToResult(s, pairs.toDF()) { landed =>
        // per-band duplicate emissions collapse (same est from full sigs);
        // id-sum checksums pin the exact pair SET, compactly
        landed.select(col("a"), col("b"), col("est_jaccard")).distinct()
          .groupBy(floor(col("est_jaccard") * 10).cast("long").as("jac_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("a")).as("sum_a"), sum(col("b")).as("sum_b"))
      }
    }),

    "q43_curation_audit" -> ((s, dir) => {
      // the standard training-corpus pass: exact-dedup -> language filter
      // -> quality threshold, reported as per-source drop-reason counts
      Curate.curationAudit(t(s, dir, "documents"), "text", "doc_id",
          keepLangs = Seq("en", "es"), minQuality = 0.3)
        .groupBy(col("source"),
          coalesce(col("drop_reason"), lit("kept")).as("reason"))
        .agg(count(lit(1)).as("n"))
    }),

    // ===== round-4 oracle closures: M3/J5, A11, EP1 lifecycle ==============
    "q49_conditional_merge" -> ((s, dir) => {
      // M3/J5: the goals-upsert change-detection merge — composite key
      // (employee_email, week_first_day), UPDATE only when the goal value
      // differs, INSERT absent keys (lambda_legal_goals_upsert.py:48-59).
      // Keys derive bijectively from c_custkey (DIV 7 / % 7), so even keys
      // <= 100 exercise all four quadrants: updated (goal differs), matched
      // untouched (goal equal), target-only, and inserts (102..150).
      val c = t(s, dir, "customer")
      def email = concat(lit("e"), expr("c_custkey DIV 7").cast("string"),
        lit("@firm.com"))
      def week = expr("date_add(DATE '2024-01-01', CAST((c_custkey % 7) * 7 AS INT))")
      val target = c.filter(col("c_custkey") <= 100)
        .select(email.as("employee_email"), week.as("week_first_day"),
          (col("c_custkey") % 5).cast("long").as("goal"))
      val staging = c.filter(col("c_custkey") % 2 === 0 && col("c_custkey") <= 150)
        .select(email.as("employee_email"), week.as("week_first_day"),
          (col("c_custkey") % 10).cast("long").as("goal"))
      Merge.conditional(target, staging, Seq("employee_email", "week_first_day"),
          (st, tg) => st("goal") =!= tg("goal"))
        .select(col("employee_email"), ymd(col("week_first_day")).as("week_str"),
          col("goal"))
    }),

    "q50_metrics_pivot" -> ((s, dir) => {
      // A11: the metrics long->wide first-value pivot with the
      // expected-metric NULL scaffold (connect_agent_metrics.py:68-106).
      // Integer-valued doubles keep round(x,2) engine-exact; keepFirst pins
      // "first" to the lowest event_id (a distributed frame has no pandas
      // row order). abandon_rate/service_level never occur -> NULL columns.
      val expected = Seq("agents_online", "agents_available",
        "contacts_queued", "contacts_handled", "longest_queue_wait",
        "abandon_rate", "service_level")
      val e = t(s, dir, "events")
      val long = e.select(
        (col("user_id") % 20).as("agent_id"),
        date_trunc("hour", col("ts")).as("start_time"),
        (date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR")).as("end_time"),
        when(col("event_type") === "click", "agents_online")
          .when(col("event_type") === "view", "agents_available")
          .when(col("event_type") === "purchase", "contacts_queued")
          .when(col("event_type") === "signup", "contacts_handled")
          .otherwise("longest_queue_wait").as("metric"),
        floor(col("value")).cast("double").as("value"),
        col("event_id"))
      val first = Merge.keepFirst(long,
        Seq("agent_id", "start_time", "metric"), "event_id").drop("event_id")
      val outCols = Seq(col("agent_id").cast("long").as("agent_id"),
        ymdhms(col("start_time")).as("start_str"),
        ymdhms(col("end_time")).as("end_str")) ++ expected.map(col)
      AgentMetrics.metricsPivot(first, expected).select(outCols: _*)
    }),

    "q51_lifecycle_ep1" -> ((s, dir) => {
      // EP1 end-to-end as ONE correctness row (SURVEY §7.2): CSV stage ->
      // TableSpecs.task cast battery (keep-list, lowercase, truthy bools,
      // ts coercion) -> scd1Bucketed initial load + merge -> summary view.
      // The CSV round trip is a true all-string staging hop; its content
      // derives from `orders` arithmetic so the oracle replays it in SQL.
      import graft.core.TableSpecs
      val tmp = java.nio.file.Files.createTempDirectory("q51csv").toString
      // key cap: the chain's cost is fixture I/O (CSV + two bucketed
      // table writes), not compute — bound it so the bench entry measures
      // the merge path, not synthetic volume (covers all of sf0.01)
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") <= 60000)
      val lmd0 = col("o_orderdate").cast("timestamp")
      def tsStr(c: Column) = date_format(c, "yyyy-MM-dd HH:mm:ss")
      val base = o.select(
        concat(lit("T"), col("o_orderkey").cast("string")).as("Id"),
        col("o_orderpriority").as("Subject"),
        col("o_orderstatus").as("Status"),
        when(col("o_orderkey") % 3 === 0, "High")
          .when(col("o_orderkey") % 3 === 1, "Normal")
          .otherwise("").as("Priority"),
        when(col("o_orderkey") % 5 === 0, "")
          .when(col("o_orderkey") % 5 === 1, "t")
          .when(col("o_orderkey") % 5 === 2, "false")
          .when(col("o_orderkey") % 5 === 3, "1")
          .otherwise("0").as("IsClosed"),
        when(col("o_orderkey") % 7 === 0, "not a date")
          .otherwise(tsStr(lmd0)).as("ActivityDate"),
        col("o_orderkey"), lmd0.as("__lmd0"))
      val target = base.withColumn("LastModifiedDate", tsStr(col("__lmd0")))
        .withColumn("Batch", lit("target"))
      val staging = base.filter(col("o_orderkey") % 4 === 0)
        .withColumn("Status", lit("U"))
        .withColumn("LastModifiedDate", tsStr(
          when(col("o_orderkey") % 3 === 0,
            col("__lmd0") + expr("INTERVAL 2 DAYS"))
            .otherwise(col("__lmd0") - expr("INTERVAL 1 DAYS"))))
        .withColumn("Batch", lit("staging"))
      try {
        target.unionByName(staging).drop("o_orderkey", "__lmd0")
          .write.mode("overwrite").option("header", "true").csv(tmp)
        val raw = s.read.option("header", "true").csv(tmp) // all-string stage
        val spec = TableSpecs.task
        val table = "q51_task"
        // a fresh JVM's in-memory catalog does not know managed tables a
        // previous run left in the warehouse dir — DROP alone is a no-op
        // then, and saveAsTable fails with LOCATION_ALREADY_EXISTS; clear
        // the location too
        def dropManaged(name: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $name")
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        dropManaged(s"${table}__merge_tmp")
        dropManaged(table)
        Merge.scd1Bucketed(table, spec(raw.filter(col("Batch") === "target")),
          Seq("id"), "lastmodifieddate", nBuckets = 8)
        Merge.scd1Bucketed(table, spec(raw.filter(col("Batch") === "staging")),
          Seq("id"), "lastmodifieddate", nBuckets = 8)
      } finally {
        // both scd1Bucketed calls consumed the CSV eagerly (managed-table
        // writes) and the result below reads the table, not the stage —
        // drop the staging dir here or every run leaks an sf-sized /tmp dir
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      s.table("q51_task")
        .groupBy(col("status"), col("isclosed").cast("long").as("isclosed"))
        .agg(count(lit(1)).as("n"),
          count(col("activitydate")).as("n_valid_activity"),
          max(tsStr(col("lastmodifieddate"))).as("max_lmd"),
          countDistinct(col("priority")).as("n_priorities"))
    }),

    "q58_gopher_rules" -> ((s, dir) => {
      // Gopher-style quality gates, thresholds tuned so every rule class
      // fires on the synthetic corpus (tokens 10-99, mean word len ~4.5)
      Curate.gopherAudit(t(s, dir, "documents"), "text",
          minWords = 25, maxWords = 90, minMeanLen = 3.0, maxMeanLen = 4.6,
          maxSymbolRatio = 0.1, minAlphaWordRatio = 0.8, minStopwords = 2)
        .groupBy(col("source"),
          coalesce(col("gopher_reason"), lit("kept")).as("reason"))
        .agg(count(lit(1)).as("n"))
    }),

    "q59_line_dedup" -> ((s, dir) => {
      // intra-doc repetition removal: build a multi-line doc with known
      // duplicate lines (text + its 50-char prefix twice), dedup, report
      // the duplicated fraction and the surviving content hash
      val multi = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), substring(col("text"), 1, 50),
          substring(col("text"), 1, 50), col("text")).as("text"))
      Curate.dedupLines(multi, "text")
        .select(col("doc_id"),
          round(col("dup_line_fraction"), 4).as("dup_frac"),
          md5(col("text_deduped")).as("dedup_md5"))
    }),

    "q60_pii_scrub" -> ((s, dir) => {
      // deterministic PII is appended to every doc so the oracle verifies
      // actual redactions (a corpus with nothing to scrub would hash-match
      // trivially); both engines apply the identical RE2-safe regexes
      val d = col("doc_id")
      val withPii = t(s, dir, "documents").select(d,
        concat_ws(" ", col("text"),
          concat(lit("user"), d.cast("string"), lit("@example.com")),
          concat(lit("10.0."), (d % 256).cast("string"), lit("."),
            (d % 100).cast("string")),
          concat(lit("555-"), lpad((d % 900 + 100).cast("string"), 3, "0"),
            lit("-"), lpad((d % 9000 + 1000).cast("string"), 4, "0")),
          md5(d.cast("string"))).as("text"))
      Curate.scrubPii(withPii, "text")
        .select(d, md5(col("text_scrubbed")).as("scrub_md5"),
          regexp_count(col("text_scrubbed"), lit("<EMAIL>")).cast("long").as("n_email"),
          regexp_count(col("text_scrubbed"), lit("<IP>")).cast("long").as("n_ip"),
          regexp_count(col("text_scrubbed"), lit("<PHONE>")).cast("long").as("n_phone"),
          regexp_count(col("text_scrubbed"), lit("<KEY>")).cast("long").as("n_key"))
    }),

    "q61_repetition_stats" -> ((s, dir) => {
      // even docs are doubled (every n-gram repeats); odd docs stay raw.
      // floor-bucketed fractions: exact on identical doubles, immune to
      // the round() .xx5 cross-engine divergence
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0, concat_ws(" ", col("text"), col("text")))
          .otherwise(col("text")).as("text"))
      Curate.repetitionStats(base, "text", ns = Seq(2, 3))
        .select(col("doc_id"),
          floor(col("dup_2gram_frac") * 1000).cast("long").as("dup2_bucket"),
          floor(col("dup_3gram_frac") * 1000).cast("long").as("dup3_bucket"))
    }),

    "q62_paragraph_dedup" -> ((s, dir) => {
      // cross-doc paragraph dedup: each doc gets its own text, a group-
      // shared boilerplate block (7 groups -> real cross-doc repetition),
      // and its 60-char prefix. Only the globally-first occurrence of each
      // paragraph fingerprint survives.
      val multi = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n\n", col("text"),
          concat(lit("shared boilerplate block number "),
            (col("doc_id") % 7).cast("string")),
          substring(col("text"), 1, 60)).as("text"))
      Dedup.dedupParagraphs(multi, "text", "doc_id")
        .select(col("doc_id"), col("n_paragraphs"), col("n_kept"),
          md5(col("text_deduped")).as("dedup_md5"))
    }),

    "q63_tfidf_terms" -> ((s, dir) => {
      // score equality across engines is exact (same tf/df -> identical
      // doubles), so the rank cut is deterministic; round(6) only absorbs
      // last-ulp ln() divergence on the emitted score
      Relevance.tfidfTopTerms(t(s, dir, "documents"), "text", "doc_id",
          k = 3)
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("score"), 6).as("score_r"),
          col("rank").cast("long").as("rank"))
    }),

    "q64_bm25_rank" -> ((s, dir) => {
      // exactSum: per-term contributions summed as DECIMAL so the score is
      // independent of partition-level addition order (oracle-portable)
      Relevance.bm25Rank(t(s, dir, "documents"), "text", "doc_id",
          query = Seq("spark", "join", "window", "hash"), k = 20,
          exactSum = true)
        .select(col("doc_id"),
          round(col("score"), 6).cast("double").as("score_r"),
          col("n_matched"), col("rank").cast("long").as("rank"))
    }),

    "q65_range_join" -> ((s, dir) => {
      // event-to-window attribution shape: ~150 order-derived tariff
      // windows (1-20 days), every lineitem shipment attributed to the
      // windows containing its ship date. Bucketized equi-join: one
      // shuffle on the week bucket, never |points| x |intervals|.
      val iv = t(s, dir, "orders").filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("interval_key"),
          unix_timestamp(col("o_orderdate")).as("start_s"),
          (unix_timestamp(col("o_orderdate")) +
            (col("o_orderkey") % 20 + 1) * 86400L).as("end_s"))
      val pt = t(s, dir, "lineitem")
        .select(unix_timestamp(col("l_shipdate")).as("p_s"),
          col("l_quantity"))
      Joins.rangeJoin(pt, iv, "p_s", "start_s", "end_s",
          bucketWidth = 7L * 86400)
        .groupBy(col("interval_key"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("l_quantity").cast("decimal(20,2)"))
            .cast("double").as("sum_qty"))
    }),

    "q66_unigram_logprob" -> ((s, dir) => {
      // corpus-LM perplexity proxy; exactSum (decimal contributions) so
      // the per-doc mean is independent of partition addition order
      Relevance.unigramLogProb(t(s, dir, "documents"), "text", "doc_id",
          exactSum = true)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_logprob"), 6).as("mlp_r"))
    }),

    "q67_top_ngrams" -> ((s, dir) => {
      Relevance.topNgrams(t(s, dir, "documents"), "text", n = 3, k = 15)
        .select(col("ngram"), col("n"), col("rank").cast("long").as("rank"))
    }),

    "q68_url_canonical" -> ((s, dir) => {
      // deterministic URL synthesis exercising every rule: mixed-case
      // scheme/host, default and non-default ports, tracking params in
      // first/middle/last/only positions, fragments, trailing slashes
      val d = col("doc_id")
      val urls = t(s, dir, "documents").select(d,
        concat(
          when(d % 2 === 0, "http").otherwise("HTTPS"), lit("://WWW.Site"),
          (d % 20).cast("string"), lit(".example"),
          when(d % 4 === 0, ":80").when(d % 4 === 1, ":443")
            .when(d % 4 === 2, ":8080").otherwise(""),
          lit("/Docs/p"), d.cast("string"),
          when(d % 3 === 0, "/").otherwise(""),
          when(d % 5 === 0, concat(lit("?utm_source=feed&q="), d.cast("string")))
            .when(d % 5 === 1, concat(lit("?q="), d.cast("string"),
              lit("&utm_campaign=x")))
            .when(d % 5 === 2, "?fbclid=abc")
            .when(d % 5 === 4, "?a=1&gclid=z&b=2")
            .otherwise(""),
          when(d % 7 === 0, "#Section-2").otherwise("")).as("url"))
      Curate.canonicalizeUrls(urls, "url")
        .select(col("doc_id"), col("url_canonical"), col("host"))
    }),

    "q69_snapshot_diff" -> ((s, dir) => {
      // corpus versioning audit: new snapshot removes %11 keys, edits %7
      // texts, adds %13-derived fresh ids — every status class exercised
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val kept = old.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")).as("text"))
      val added = old.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"))
      Merge.snapshotDiff(old, kept.unionByName(added), "doc_id", "text")
    }),

    "q70_overlap_join" -> ((s, dir) => {
      // two order-derived window sets; every inclusively-overlapping pair
      // with its overlap length. Emit-once bucketization: no dedup pass.
      def windows(m: Int, span: Int, kc: String, sc: String, ec: String)
          (df: DataFrame) =
        df.filter(col("o_orderkey") % m === 0)
          .select(col("o_orderkey").as(kc),
            unix_timestamp(col("o_orderdate")).as(sc),
            (unix_timestamp(col("o_orderdate")) +
              (col("o_orderkey") % span + 1) * 86400L).as(ec))
      val o = t(s, dir, "orders")
      Joins.overlapJoin(
          windows(211, 15, "l_key", "ls", "le")(o),
          windows(307, 10, "r_key", "rs", "re")(o),
          "ls", "le", "rs", "re", bucketWidth = 7L * 86400)
        .select(col("l_key"), col("r_key"),
          ((least(col("le"), col("re")) - greatest(col("ls"), col("rs")))
            / 86400L).cast("long").as("overlap_days"))
    }),

    "q71_heavy_hitters" -> ((s, dir) => {
      // capacity 64 > the corpus's 31 distinct tokens -> the Misra-Gries
      // sketch never decrements and is EXACT, so plain counting SQL is a
      // valid oracle; the bounded (capacity < vocab) regime's guarantees
      // are property-tested in AggregatesSpec
      Relevance.heavyHitters(t(s, dir, "documents"), "text",
        capacity = 64, k = 10)
    }),

    "q72_domain_quota" -> ((s, dir) => {
      // skewed host synthesis (a third of the corpus on one mega-host)
      // exercises exactly the imbalance the quota exists to cap
      val hosts = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "big.example")
          .otherwise(concat(lit("s"), (col("doc_id") % 7).cast("string"),
            lit(".example"))).as("host"))
      Curate.domainQuota(hosts, "host", "doc_id", quota = 20)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q73_corpus_split" -> ((s, dir) => {
      Curate.splitCorpus(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q74_sliding_chunks" -> ((s, dir) => {
      Curate.chunkSliding(t(s, dir, "documents"), "text", "doc_id",
        chunkSize = 64, stride = 32)
    }),

    "q75_winsorize" -> ((s, dir) => {
      // clamp into the exact [p5, p95] band per event_type, then report
      // the winsorized mean and how many rows each side clamped
      graft.functions.Stats.winsorize(t(s, dir, "events"),
          Seq("event_type"), "value", 0.05, 0.95)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value_w").cast("decimal(27,12)")).cast("double") /
            count(col("value_w")), 6).as("mean_w"),
          count(when(col("value") < col("lo_threshold"), 1)).as("n_lo"),
          count(when(col("value") > col("hi_threshold"), 1)).as("n_hi"))
    }),

    "q76_bloom_semi_join" -> ((s, dir) => {
      // decontamination shape: lineitems of high-priority open orders —
      // the bloom prunes the lineitem scan before any exchange; the
      // confirm join makes it exact regardless of fpp
      val ref = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderpriority")
          .startsWith("1"))
      Joins.bloomSemiJoin(t(s, dir, "lineitem"), ref,
          "l_orderkey", "o_orderkey", fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(27,12)")).cast("double")
            .as("sum_qty"))
    }),

    "q77_bloom_anti_join" -> ((s, dir) => {
      val ref = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderpriority")
          .startsWith("1"))
      Joins.bloomAntiJoin(t(s, dir, "lineitem"), ref,
          "l_orderkey", "o_orderkey", fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(27,12)")).cast("double")
            .as("sum_qty"))
    }),

    "q78_group_sample" -> ((s, dir) => {
      // k per-source exemplar docs via the bounded-heap bottom-k-by-hash
      // aggregate — deterministic, so exactly mirrorable by a rank oracle
      Curate.groupSample(t(s, dir, "documents"), Seq("source"), "doc_id",
          k = 5)
        .select(col("source"), posexplode(col("sample")))
        .select(col("source"), col("pos").cast("long").as("rank"),
          col("col").as("doc_id"))
    }),

    "q79_zorder_value" -> ((s, dir) => {
      // integer lanes (mod-1024) keep the oracle in pure bit arithmetic;
      // the min/max-scaled layout path is pinned by CurateSpec
      val z = Curate.zorderValue(Seq(
        pmod(col("l_partkey"), lit(1024)).cast("long"),
        pmod(col("l_suppkey"), lit(1024)).cast("long")), bitsPer = 10)
      t(s, dir, "lineitem").withColumn("zval", z)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("zval")).as("sum_z"))
    }),

    "q80_incremental_dedup" -> ((s, dir) => {
      // a new ingest batch (even ids) deduped internally, then against
      // the prior corpus version (ids = 1 mod 4) — disjoint slices of
      // documents, so cross-version dups are the synthesized duplicate
      // texts the table carries by design
      val docs = t(s, dir, "documents")
      Dedup.exactIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 4 === 1),
          "text", "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q81_key_skew" -> ((s, dir) => {
      // the pre-shuffle skew diagnosis: heaviest event keys with exact
      // ppm share (null keys made explicit so they surface as skew too)
      graft.functions.Stats.keySkewReport(
        t(s, dir, "events").select(
          coalesce(col("user_id").cast("string"), lit("(null)")).as("key")),
        Seq("key"), topN = 10)
    }),

    "q82_sessionize" -> ((s, dir) => {
      // 30-min-gap sessions per user, reported as per-user session stats
      graft.operators.Analytics.sessionize(t(s, dir, "events"),
          "user_id", "ts", gapSeconds = 1800,
          tiebreakCols = Seq("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("len")).as("n_events"),
          max(col("len")).as("max_len"))
    }),

    "q83_funnel" -> ((s, dir) => {
      graft.operators.Analytics.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"),
        withinSeconds = 7L * 24 * 3600)
    }),

    "q84_rolling_agg" -> ((s, dir) => {
      graft.operators.Analytics.rollingAgg(t(s, dir, "events"),
          "user_id", "ts", "value", windowSeconds = 3600)
        .select(col("event_id"), col("roll_n"), col("roll_sum"))
    }),

    "q85_table_checksum" -> ((s, dir) => {
      // migration audit over stable-cast columns (ints/strings/dates)
      graft.functions.Stats.tableChecksum(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_shipdate"))
    }),

    "q86_rollup" -> ((s, dir) => {
      // hierarchical subtotals in one pass (grouping-sets expansion under
      // a single shuffle); grouping_id disambiguates real NULL keys
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"))
    }),

    "q87_mix_corpus" -> ((s, dir) => {
      // 50/30/20 mixture over three sources under a 60-doc budget:
      // src0 saturates (keeps all 25 < its 30-doc allocation), the others
      // downsample; unlisted sources drop
      Curate.mixCorpus(t(s, dir, "documents"), "source", "doc_id",
          targetShares = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          budget = 60L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q88_incremental_neardup" -> ((s, dir) => {
      // new batch (even ids) near-deduped against a prior version slice
      // (ids = 5 mod 20) — Portable mode so the banded candidate join and
      // the signature-agreement verify are both oracle-mirrorable
      val docs = t(s, dir, "documents")
      Dedup.nearIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 20 === 5),
          "text", "doc_id", numHashes = 32, bands = 8,
          threshold = 0.8, mode = Dedup.Portable)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q89_retention" -> ((s, dir) => {
      graft.operators.Analytics.retention(t(s, dir, "events"),
        "user_id", "ts")
    }),

    "q90_weighted_sample" -> ((s, dir) => {
      // keep-probability proportional to document length: the
      // token-budget-aware corpus thinning
      Curate.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
          scale = 0.0005)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q91_cube" -> ((s, dir) => {
      // the full grouping-sets lattice (q86's ROLLUP sibling)
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"))
    }),

    "q92_ngram_decontaminate" -> ((s, dir) => {
      // benchmark slice = every 17th doc; corpus = the rest. The table's
      // synthesized duplicate texts create genuine cross-slice overlap, so
      // the 5-gram rule fires on real quoted content, not noise.
      val docs = t(s, dir, "documents")
      Dedup.ngramDecontaminate(
          docs.filter(col("doc_id") % 17 =!= 3),
          docs.filter(col("doc_id") % 17 === 3),
          "text", "doc_id", n = 5, minMatches = 2)
        .filter(col("n_matched") > 0)
        .select(col("doc_id"), col("n_matched"), col("contaminated"))
    }),

    "q93_classifier_score" -> ((s, dir) => {
      // dyadic weights -> bit-exact logits (no rounding tolerance needed)
      Curate.classifierScore(t(s, dir, "documents"), "text",
          q93Weights.toMap, bias = q93Bias)
        .select(col("doc_id"), col("n_tokens"), col("logit"), col("label"))
    }),

    "q94_blocklist_filter" -> ((s, dir) => {
      // 4% blocked-token tolerance over a blocklist of real corpus words
      Curate.blocklistAudit(t(s, dir, "documents"), "text",
          terms = q94Terms, maxRatePpm = 40000L)
        .groupBy(col("source"), col("keep"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_blocked")), lit(0L)).as("n_blocked_sum"),
          sum(col("doc_id")).as("sum_ids"))
    }),

    "q95_semantic_prune" -> ((s, dir) => {
      // same banding/threshold as q32 so its pair CTEs oracle this too;
      // prune = pairs -> transitive closure -> keep each cluster's min id
      Dedup.semanticPrune(t(s, dir, "embeddings"), "embedding", "vec_id",
          threshold = 0.4, nBits = 4, bands = 8, maxBucket = 64, dim = 64)
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_ids"))
    }),

    "q96_embedding_centroids" -> ((s, dir) => {
      graft.functions.Stats.embeddingCentroids(t(s, dir, "embeddings"),
          "embedding", Seq("label"), dim = 64)
        .select(col("label").cast("long").as("label"), col("dim"), col("n"),
          col("mean"), col("variance"))
    }),

    "q97_corpus_report" -> ((s, dir) => {
      Curate.corpusReport(t(s, dir, "documents"), "text", "source")
    }),

    "q98_pagerank" -> ((s, dir) => {
      // link-authority scoring (the crawl-curation quality feature) over a
      // synthetic 300-node link graph derived from orders; 3 fixed-point
      // iterations — integer units make every round bit-exact
      val o = t(s, dir, "orders")
      val edges = o.select((col("o_custkey") % 300).as("src"),
          (col("o_orderkey") % 300).as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.Analytics.pagerank(edges, "src", "dst",
        iterations = 3)
    }),

    "q100_perplexity_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail corpus partition by exact per-source
      // LM-score terciles
      Curate.perplexityBuckets(t(s, dir, "documents"), "text", "doc_id",
          "source")
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
    }),

    "q101_standardize_embeddings" -> ((s, dir) => {
      // whitening apply-step over the q96 moments; three probe dims keep
      // the output scalar (raw doubles, bit-deterministic)
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      graft.functions.Stats.standardizeEmbeddings(emb, "embedding",
          dim = 64)
        .select(col("vec_id"),
          element_at(col("embedding_std"), 1).as("s0"),
          element_at(col("embedding_std"), 32).as("s31"),
          element_at(col("embedding_std"), 64).as("s63"))
    }),

    "q99_pseudonymize" -> ((s, dir) => {
      // joinability-preserving de-identification: both tables tokenized
      // with ONE salt still join; the tokens themselves are hash-checked
      val salt = "rel6"
      val c = Curate.pseudonymize(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        Seq("c_custkey"), salt)
      val o = Curate.pseudonymize(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderstatus")),
        Seq("o_custkey"), salt)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("c_custkey")).as("min_token"),
          max(col("c_custkey")).as("max_token"))
    }),

    // ===== bench twins: the production Fast (XXH64) sketch paths ===========
    // q25/q26/q27/q37/q40 bench the Portable (md5) hashing because that is
    // what DuckDB can oracle — but production users run Fast mode (the code
    // documents Portable at ~3-5x the hashing cost). These twins bench the
    // SAME operators, same shapes, in Fast mode; XXH64 chaining is not
    // expressible in SQL, so the driver records a rows-only check.
    "q52_minhash_signatures_fast" -> ((s, dir) => {
      Dedup.minhashSignatures(t(s, dir, "documents"), "text", "doc_id",
          numHashes = 16, shingleN = 3, mode = Dedup.Fast)
        .select(col("doc_id"), col("minhash")(0).as("h0"),
          col("minhash")(1).as("h1"), col("minhash")(15).as("h15"))
    }),

    "q53_minhash_pairs_fast" -> ((s, dir) => {
      Dedup.minhashPairs(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "text", "doc_id", numHashes = 32, bands = 8,
          threshold = 0.3, shingleN = 1, mode = Dedup.Fast)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(floor(col("est_jaccard") * 10)), lit(0L)).as("sum_bucket"))
    }),

    "q54_simhash_fast" -> ((s, dir) => {
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id",
        mode = Dedup.Fast)
    }),

    "q55_simhash_pairs_fast" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxDist = 3, blocks = 4, mode = Dedup.Fast)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("hamming")), lit(0L)).as("sum_hamming"))
    }),

    "q56_chunk_overlap_fast" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val halves = d.select((-col("doc_id") - 1).as("doc_id"),
        substring(col("text"), 1, 512).as("text"))
      Dedup.chunkOverlapPairs(d.unionByName(halves), "text", "doc_id",
          threshold = 0.5, mode = Dedup.Fast)
        .groupBy(floor(col("overlap") * 10).cast("long").as("ov_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "q39_multimodal_frames" -> ((s, dir) => {
      // REAL demux+decode: GFRM container of 4 real PNG frames per doc ->
      // partition-local unpack -> per-frame ImageIO decode -> channel sums
      val withPayload = Multimodal.attachVideoPayload(s, t(s, dir, "documents"),
        "doc_id", nFrames = 4)
      Multimodal.frameStats(s, withPayload, "doc_id")
        .where(col("decode_ok"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    })
  )

  // ==========================================================================

  /** DuckDB mirror of [[graft.queries.ConnectFixtures]] — shared CTE prefix
    * for the q35/q36 view oracles. Must stay in lockstep with the Spark
    * derivation (same constants, same arithmetic). */
  private val fixtureCtes: String = """WITH f_calls AS (
  SELECT
    event_id AS contact_id,
    user_id % 30 AS agent_id,
    user_id % 5 AS queue_id,
    'agent' || CAST(user_id % 60 AS VARCHAR) AS agent_username,
    date_trunc('second', ts) AS init_time,
    CASE WHEN event_type <> 'error' THEN date_trunc('second', ts)
      + to_seconds(CAST(FLOOR(value) AS BIGINT)) END AS agent_conn,
    CASE WHEN event_type <> 'error' THEN date_trunc('second', ts)
      + to_seconds(CAST(FLOOR(value) AS BIGINT)
        + (CAST(FLOOR(value) AS BIGINT) * 7) % 9000 + 30) END AS disconn_time,
    (CAST(FLOOR(value) AS BIGINT) * 3) % 6000 AS agent_interact_duration,
    CAST(FLOOR(value) AS BIGINT) % 600 AS agent_afw_duration,
    (CAST(FLOOR(value) AS BIGINT) * 13) % 300 AS agent_longest_hold,
    event_id % 3 AS agent_conn_att,
    (CAST(FLOOR(value) AS BIGINT) * 2) % 400 AS customer_hold_duration,
    '+1' || CAST(user_id % 97 AS VARCHAR) AS customer_phone,
    CASE event_type WHEN 'click' THEN 'INBOUND' WHEN 'view' THEN 'OUTBOUND'
      WHEN 'purchase' THEN 'TRANSFER' WHEN 'signup' THEN 'CALLBACK'
      ELSE 'DISCONNECT' END AS init_method
  FROM events),
dim_users AS (
  SELECT n AS user_id,
    CASE WHEN n % 11 = 0 THEN NULL
      ELSE 'First' || CAST(n % 3 AS VARCHAR) END AS user_name,
    CASE WHEN n % 7 = 0 THEN NULL
      ELSE 'Last' || CAST(n % 4 AS VARCHAR) END AS user_lastname,
    'u' || CAST(n AS VARCHAR) || '@example.com' AS user_email
  FROM range(0, 25) t(n)),
dim_queues AS (
  SELECT q AS queue_id, 'Queue_' || CAST(q AS VARCHAR) AS queue_name
  FROM range(0, 4) t(q)),
dim_users_litify AS (
  SELECT 'agent' || CAST(n AS VARCHAR) AS username,
    CASE WHEN n % 13 = 0 THEN NULL
      ELSE 'Title' || CAST((n % 30) % 2 AS VARCHAR) END AS title,
    'Job' || CAST((n % 30) % 3 AS VARCHAR) AS cm_job_title__c,
    'Multi' || CAST(n // 30 AS VARCHAR) AS cm_job_title_multi__c,
    'Dept' || CAST((n % 30) % 5 AS VARCHAR) AS department__c
  FROM range(0, 54) t(n))
"""


  // ---- DuckDB SQL generators for the LSH oracles ---------------------------
  // The hyperplanes are deterministic driver-side literals, so the oracle
  // can replicate bucketing exactly by inlining them (Double.toString
  // round-trips bit-exactly through DuckDB's decimal parser).

  private def duckList(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")

  /** Mirror of VectorFunctions.signBucket as a DuckDB expression. */
  private def duckBucket(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_sum(list_transform(list_zip($vec, ${duckList(p)}), " +
        s"x -> x[1]::DOUBLE * x[2]::DOUBLE)) >= 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Mirror of VectorFunctions.cosine (zero-norm guard included). */
  private def duckCos(a: String, b: String): String = {
    def n2(v: String) = s"list_sum(list_transform($v, x -> x::DOUBLE * x::DOUBLE))"
    s"(CASE WHEN sqrt(${n2(a)}) = 0.0 OR sqrt(${n2(b)}) = 0.0 THEN 0.0 " +
      s"ELSE list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE)) " +
      s"/ (sqrt(${n2(a)}) * sqrt(${n2(b)})) END)"
  }

  private def q30OracleSql: String = {
    val planes = V.randomPlanes(8, 64, 42L)
    val masks = Similarity.hammingMasks(8, 2).mkString("[", ", ", "]")
    s"""WITH corpus AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         ${duckBucket("embedding", planes)} AS cb FROM embeddings),
       probes AS (SELECT vec_id AS probe_id, embedding AS pv,
         ${duckBucket("embedding", planes)} AS b0 FROM embeddings WHERE vec_id < 8),
       pb AS (SELECT probe_id, pv, xor(b0, m.msk) AS pbucket
         FROM probes, (SELECT UNNEST($masks) AS msk) m),
       scored AS (SELECT p.probe_id, c.neighbor_id,
           ${duckCos("p.pv", "c.cv")} AS cos
         FROM corpus c JOIN pb p ON c.cb = p.pbucket
         WHERE c.neighbor_id <> p.probe_id)
       SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
         ROUND(cos, 6) AS cos_r
       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         ORDER BY cos DESC, neighbor_id) rn FROM scored)
       WHERE rn <= 5"""
  }

  /** The q32 pair CTEs — mirror of Dedup.embeddingNearDupPairs(
    * threshold=0.4, nBits=4, bands=8, maxBucket=64): exact-dup pre-pass,
    * banded sign-LSH with per-bucket cap, exact cosine verify. Shared by
    * the q32 bucket-histogram oracle and the q95 semantic-prune closure. */
  private def q32PairCtes: String = q32PairCtesFrom("embeddings")

  /** The q32 embedding near-dup pair family over an arbitrary
    * (vec_id, embedding) relation — shared by q32/q95/q123 (over
    * `embeddings`) and q126 (over the decontamination survivors). */
  private def q32PairCtesFrom(rel: String): String = {
    val planes = V.randomPlanes(4 * 8, 64, 42L)
    s"""base AS (SELECT vec_id AS id, embedding AS v,
         MIN(vec_id) OVER (PARTITION BY embedding) AS rep FROM $rel),
       exact_pairs AS (SELECT rep AS a, id AS b, 1.0 AS cos
         FROM base WHERE id <> rep),
       reps AS (SELECT id, v FROM base WHERE id = rep),
       sig AS (SELECT id, v, ${duckBucket("v", planes)} AS sig FROM reps),
       banded AS (SELECT id, v, b.band,
           (sig >> (b.band * 4)) & 15 AS bval
         FROM sig, (SELECT UNNEST(range(8)) AS band) b),
       capped AS (SELECT * FROM banded
         QUALIFY row_number() OVER (PARTITION BY band, bval ORDER BY id) <= 64),
       cand AS (SELECT DISTINCT x.id AS a, y.id AS b
         FROM capped x JOIN capped y
           ON x.band = y.band AND x.bval = y.bval AND x.id < y.id),
       lsh0 AS (SELECT c.a, c.b, ${duckCos("ra.v", "rb.v")} AS cos
         FROM cand c JOIN reps ra ON ra.id = c.a JOIN reps rb ON rb.id = c.b),
       pairs AS (SELECT * FROM exact_pairs
         UNION ALL SELECT * FROM lsh0 WHERE cos >= 0.4)"""
  }

  private def q32OracleSql: String =
    s"""WITH $q32PairCtes
       SELECT CAST(FLOOR(cos * 10) AS BIGINT) AS cos_bucket,
         COUNT(1) AS n_pairs FROM pairs GROUP BY 1"""

  /** q95: the q32 pair graph, transitively closed (q48's recursive-CTE
    * pattern); every id whose min-reachable label is not itself is pruned,
    * everything else (paired or not) survives. */
  private def q95OracleSql: String =
    s"""WITH RECURSIVE $q32PairCtes,
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       |removed AS (SELECT id
       |  FROM (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
       |  WHERE cluster <> id)
       |SELECT CAST(COUNT(1) AS BIGINT) AS n_kept,
       |  CAST(SUM(vec_id) AS BIGINT) AS sum_ids
       |FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM removed)""".stripMargin

  /** q92: 5-gram decontamination vs the doc_id%17=3 benchmark slice. The
    * oracle joins the gram STRINGS where Spark joins their 64-bit hashes —
    * identical results (a collision among ~10^5 grams is ~1e-9 and would be
    * a deterministic, diagnosable hash mismatch). */
  private def q92OracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t
       |    FROM documents WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id, list_distinct(${duckShingles("t", 5)}) AS g
       |    FROM toks),
       |ref AS (SELECT DISTINCT unnest(g) AS rg FROM sh WHERE doc_id % 17 = 3),
       |corp AS (SELECT doc_id, unnest(g) AS cg FROM sh WHERE doc_id % 17 <> 3)
       |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_matched,
       |  COUNT(1) >= 2 AS contaminated
       |FROM corp JOIN ref ON cg = rg
       |GROUP BY doc_id""".stripMargin

  /** q93: the linear classifier, weights/bias shared with the Spark query
    * via [[q93Weights]]/[[q93Bias]] (dyadic -> exact under any sum order). */
  private def q93OracleSql: String = {
    val cases = q93Weights.map { case (t, w) =>
      s"WHEN '$t' THEN $w" }.mkString(" ")
    s"""WITH tk AS (SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
       |  FROM documents),
       |s AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CASE WHEN text IS NULL THEN NULL
       |      WHEN len(t) = 0 THEN $q93Bias
       |      ELSE $q93Bias + list_sum(list_transform(t,
       |        x -> CASE x $cases ELSE 0.0 END)) / len(t) END AS logit
       |  FROM tk)
       |SELECT doc_id, n_tokens, logit, logit > 0.0 AS label FROM s""".stripMargin
  }

  /** q94: blocklist gate over normalized tokens, integer-ppm exact. */
  private def q94OracleSql: String = {
    val set = q94Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, source, text, $duckToks AS t
       |  FROM documents),
       |a AS (SELECT doc_id, source,
       |    CAST(len(list_filter(t, x -> x IN ($set))) AS BIGINT) AS nb,
       |    (text IS NULL) OR
       |      (len(list_filter(t, x -> x IN ($set))) * 1000000
       |        <= len(t) * 40000) AS keep
       |  FROM tk)
       |SELECT source, keep, CAST(COUNT(1) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_blocked_sum,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM a GROUP BY 1, 2""".stripMargin
  }

  /** q96: per-(label, dim) mean/variance over 1e-9-quantized values; dims
    * indexed by a literal range since
    * [[graft.functions.Stats.embeddingCentroids]] enforces the width
    * loudly. trunc() mirrors Spark's double->long cast (truncation — the
    * one float->fixed-point step engines agree on); integer unit sums are
    * exact, and the division ORDER (/n then /units) mirrors the operator
    * so the doubles are bit-identical. */
  private def q96OracleSql: String =
    """WITH idx AS (SELECT unnest(range(64)) AS dim),
      |e AS (SELECT label, dim,
      |    CAST(trunc(embedding[CAST(dim AS INT) + 1]::DOUBLE * 1.0E9)
      |      AS BIGINT) AS q
      |  FROM embeddings CROSS JOIN idx WHERE embedding IS NOT NULL)
      |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
      |  CAST(COUNT(1) AS BIGINT) AS n,
      |  CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / 1.0E9
      |    AS mean,
      |  CAST(SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
      |      AS DOUBLE) / COUNT(1) / 1.0E18
      |    - (CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / 1.0E9)
      |      * (CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / 1.0E9)
      |    AS variance
      |FROM e GROUP BY 1, 2""".stripMargin

  /** q98: fixed-point PageRank, 3 iterations, mirrored as a recursive CTE.
    * The self-marker edges (`selfm`) keep every node present as a dst each
    * round with zero contribution — the recursive term may reference `pr`
    * only once, so zero-inflow nodes cannot come from a second UNION
    * branch. HUGEINT `//` and Spark's `div` both truncate (all values
    * positive), so every iteration is bit-identical. */
  private def q98OracleSql: String =
    """WITH RECURSIVE eraw AS (
      |  SELECT DISTINCT o_custkey % 300 AS src, o_orderkey % 300 AS dst
      |  FROM orders WHERE o_custkey % 300 <> o_orderkey % 300),
      |nodes AS (SELECT DISTINCT id
      |  FROM (SELECT src AS id FROM eraw UNION SELECT dst FROM eraw)),
      |outd AS (SELECT src, COUNT(1) AS d FROM eraw GROUP BY 1),
      |e2 AS (SELECT src, dst, FALSE AS selfm FROM eraw
      |  UNION ALL SELECT id, id, TRUE FROM nodes),
      |pr(iter, id, r) AS (
      |  SELECT 0, id, 1000000000000::HUGEINT FROM nodes
      |  UNION ALL
      |  SELECT g.iter + 1, g.id,
      |    150000000000::HUGEINT + (g.inflow * 85::HUGEINT) // 100::HUGEINT
      |  FROM (SELECT p.iter AS iter, ed.dst AS id,
      |      SUM(CASE WHEN ed.selfm THEN 0::HUGEINT
      |        ELSE p.r // od.d::HUGEINT END) AS inflow
      |    FROM pr p JOIN e2 ed ON ed.src = p.id
      |      LEFT JOIN outd od ON od.src = p.id
      |    GROUP BY p.iter, ed.dst) g
      |  WHERE g.iter < 3)
      |SELECT CAST(id AS BIGINT) AS id, CAST(r AS BIGINT) AS rank_units,
      |  CAST(r AS BIGINT)::DOUBLE / 1000000000000.0 AS rank
      |FROM pr WHERE iter = 3""".stripMargin

  /** q99: pseudonymized join — tokens via the portable hash on both
    * sides, so the oracle joins the SAME token space (parity holds even
    * if two ids ever collided: both engines would see the same join). */
  private def q99OracleSql: String = {
    def tok(c: String) = duckHash(s"'rel6:' || CAST($c AS VARCHAR)")
    s"""WITH c AS (SELECT ${tok("c_custkey")} AS tok, c_mktsegment
       |    FROM customer),
       |o AS (SELECT ${tok("o_custkey")} AS tok, o_orderstatus FROM orders)
       |SELECT c_mktsegment, o_orderstatus, CAST(COUNT(1) AS BIGINT) AS n,
       |  CAST(MIN(tok) AS BIGINT) AS min_token,
       |  CAST(MAX(tok) AS BIGINT) AS max_token
       |FROM c JOIN o USING (tok) GROUP BY 1, 2""".stripMargin
  }

  /** q100: per-source LM-score terciles — the q66 scoring CTEs (exact
    * decimal sums) + the exactQuantiles type-1 rank rule (value at rank
    * CEIL(p*n); ceil over the same double product on both engines). */
  private def q100OracleSql: String = {
    val lo = (1.0 / 3).toString
    val hi = (2.0 / 3).toString
    s"""WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'),
       |    x -> x != '')) AS term
       |  FROM documents),
       |tot AS (SELECT COUNT(1) AS t FROM tok),
       |c AS (SELECT doc_id, COUNT(1) OVER (PARTITION BY term) AS tc
       |  FROM tok),
       |s AS (SELECT doc_id,
       |    SUM(CAST(ln(CAST(tc AS DOUBLE) / t) AS DECIMAL(27,12))) AS ssum,
       |    COUNT(1) AS n_tokens
       |  FROM c CROSS JOIN tot GROUP BY doc_id),
       |sc AS (SELECT d.source, s.doc_id,
       |    CAST(ssum AS DOUBLE) / n_tokens AS mlp
       |  FROM s JOIN documents d USING (doc_id)),
       |r AS (SELECT source, doc_id, mlp,
       |    COUNT(1) OVER (PARTITION BY source ORDER BY mlp
       |      ROWS UNBOUNDED PRECEDING) AS rn,
       |    COUNT(1) OVER (PARTITION BY source) AS n FROM sc),
       |thr AS (SELECT source,
       |    MAX(CASE WHEN rn = CEIL(n * $lo) THEN mlp END) AS plo,
       |    MAX(CASE WHEN rn = CEIL(n * $hi) THEN mlp END) AS phi
       |  FROM r GROUP BY source),
       |b AS (SELECT sc.source, doc_id,
       |    CASE WHEN mlp <= plo THEN 'tail'
       |      WHEN mlp <= phi THEN 'middle' ELSE 'head' END AS bucket
       |  FROM sc JOIN thr USING (source))
       |SELECT source, bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM b GROUP BY 1, 2""".stripMargin
  }

  /** q101: whitening apply-step — the q96 global moments rebuilt as
    * ORDER BY dim lists, then three probe dims standardized; sqrt/
    * subtract/divide are IEEE-correctly-rounded on both engines. */
  private def q101OracleSql: String =
    """WITH idx AS (SELECT unnest(range(64)) AS dim),
      |e AS (SELECT dim,
      |    CAST(trunc(embedding[CAST(dim AS INT) + 1]::DOUBLE * 1.0E9)
      |      AS BIGINT) AS q
      |  FROM embeddings CROSS JOIN idx WHERE embedding IS NOT NULL),
      |st AS (SELECT dim,
      |    CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / 1.0E9
      |      AS mean,
      |    CAST(SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
      |        AS DOUBLE) / COUNT(1) / 1.0E18
      |      - (CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / 1.0E9)
      |        * (CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / 1.0E9)
      |      AS variance
      |  FROM e GROUP BY 1),
      |m AS (SELECT list(mean ORDER BY dim) AS ms,
      |    list(sqrt(GREATEST(variance, 1.0E-12)) ORDER BY dim) AS ss
      |  FROM st)
      |SELECT vec_id,
      |  (embedding[1]::DOUBLE - ms[1]) / ss[1] AS s0,
      |  (embedding[32]::DOUBLE - ms[32]) / ss[32] AS s31,
      |  (embedding[64]::DOUBLE - ms[64]) / ss[64] AS s63
      |FROM embeddings CROSS JOIN m
      |WHERE embedding IS NOT NULL""".stripMargin

  /** q97: the corpus report card — langId and quality mirrors are the
    * q22/q23 oracle expressions rebased onto one bound token list. */
  private def q97OracleSql: String = {
    def sc(set: Seq[String]) =
      s"len(list_filter(tk, x -> x IN (${set.map(w => s"'$w'").mkString(",")})))"
    val scores = T.langMarkers.map { case (l, ws) => l -> sc(ws) }
    val g = scores.map(_._2).mkString("greatest(", ", ", ")")
    val langCase = scores.map { case (l, s) =>
      s"WHEN $s > 0 AND $s = $g THEN '$l'" }.mkString(" ")
    s"""WITH b AS (SELECT source, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM documents),
       |s AS (SELECT source, text, tk, fp,
       |    CASE $langCase ELSE 'und' END AS lang,
       |    ROUND(
       |      LEAST(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |      (CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(length(text) - length(regexp_replace(text,
       |          '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END) * 0.4 +
       |      LEAST((CASE WHEN len(tk) = 0 THEN 0.0
       |        ELSE CAST(len(list_filter(tk,
       |          x -> x IN ('the','a','of','and','to','in','is')))
       |          AS DOUBLE) / len(tk) END) * 5.0, 1.0) * 0.2,
       |    4) AS q
       |  FROM b)
       |SELECT source,
       |  CAST(COUNT(1) AS BIGINT) AS n_docs,
       |  CAST(COUNT(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS n_null,
       |  CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(SUM(CAST(q AS DECIMAL(27,12))) AS DOUBLE) / COUNT(q)
       |    AS mean_quality,
       |  CAST(COUNT(fp) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups
       |FROM s GROUP BY source""".stripMargin
  }

  /** q105: batch-semantics closed form of the streaming curate pipeline —
    * kept docs per language = DISTINCT fingerprints among filter-passing
    * docs (stream keeps exactly one arrival per fp; lang is a function of
    * the text so it is identical for every copy). Lang/quality mirrors are
    * the q97 oracle expressions. */
  private def q105OracleSql: String = {
    def sc(set: Seq[String]) =
      s"len(list_filter(tk, x -> x IN (${set.map(w => s"'$w'").mkString(",")})))"
    val scores = T.langMarkers.map { case (l, ws) => l -> sc(ws) }
    val g = scores.map(_._2).mkString("greatest(", ", ", ")")
    val langCase = scores.map { case (l, s) =>
      s"WHEN $s > 0 AND $s = $g THEN '$l'" }.mkString(" ")
    s"""WITH b AS (SELECT text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (SELECT text, fp,
       |    CASE $langCase ELSE 'und' END AS lang,
       |    ROUND(
       |      LEAST(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |      (CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(length(text) - length(regexp_replace(text,
       |          '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END) * 0.4 +
       |      LEAST((CASE WHEN len(tk) = 0 THEN 0.0
       |        ELSE CAST(len(list_filter(tk,
       |          x -> x IN ('the','a','of','and','to','in','is')))
       |          AS DOUBLE) / len(tk) END) * 5.0, 1.0) * 0.2,
       |    4) AS q
       |  FROM b)
       |SELECT lang, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_docs
       |FROM s WHERE lang IN ('en','es') AND q >= 0.3
       |GROUP BY lang""".stripMargin
  }

  /** q106: closed form of the streaming LSH bucket semantics — candidate
    * (a,b) iff a is among the first `maxBucket` members of some bucket (id
    * order = arrival order under the constant event time) and b shares
    * that bucket with a.id < b.id; emitted iff full-signature agreement
    * >= threshold. Same Portable sketch mirrors as q25/q26. */
  private def q106OracleSql: String = {
    val mix = Dedup.mixConstants(32)
    val sigList = (0 until 32).map { j =>
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }.mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id AS id, $duckToks AS t
       |  FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0),
       |sh AS (SELECT id, ${duckShingles("t", 1)} AS s FROM toks),
       |hs AS (SELECT id, list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh),
       |sig AS (SELECT id, $sigList AS sig FROM hs),
       |banded AS (SELECT id, sig, b.band,
       |    md5(array_to_string(list_transform(sig[b.band*4+1 : b.band*4+4],
       |      v -> CAST(v AS VARCHAR)), ',')) AS bkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b),
       |capped AS (SELECT * FROM banded
       |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY id) <= 256),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM capped x JOIN banded y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id),
       |est0 AS (SELECT c.a, c.b,
       |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
       |      AS est_jaccard
       |  FROM cand c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b)
       |SELECT CAST(FLOOR(est_jaccard * 10) AS BIGINT) AS jac_bucket,
       |  COUNT(1) AS n_pairs, CAST(SUM(a) AS BIGINT) AS sum_a,
       |  CAST(SUM(b) AS BIGINT) AS sum_b
       |FROM est0 WHERE est_jaccard >= 0.8 GROUP BY 1""".stripMargin
  }

  /** Shared CTE chain for q109/q110: repeated-8-gram positions -> merged
    * spans, the DuckDB replay of Dedup.repeatedSpans(n=8, minDf=2,
    * Portable). Ends in `spans(doc_id, s, e, ng)` + carries `toks`. */
  private def repeatedSpanCtes: String = repeatedSpanCtesOver(
    "documents WHERE text IS NOT NULL")

  /** Same chain over an arbitrary (doc_id, text) relation — q114 runs it
    * over the CURATED subset instead of the raw table. */
  private def repeatedSpanCtesOver(baseRel: String): String = {
    val gram = duckHash("array_to_string(t[pos+1:pos+8], ' ')")
    s"""toks AS (SELECT doc_id, $duckToks AS t FROM $baseRel),
       |pg AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos, t
       |  FROM toks WHERE len(t) >= 8),
       |hg AS (SELECT doc_id, pos, $gram AS h FROM pg),
       |rep AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df
       |  FROM hg GROUP BY h) WHERE df >= 2),
       |fl AS (SELECT doc_id, pos FROM hg WHERE h IN (SELECT h FROM rep)),
       |pm AS (SELECT doc_id, pos, MAX(pos + 8) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS prev_end
       |  FROM fl),
       |nw AS (SELECT doc_id, pos,
       |    CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END
       |      AS is_new
       |  FROM pm),
       |sp AS (SELECT doc_id, pos, SUM(is_new) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM nw),
       |spans AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + 8 AS e,
       |    COUNT(1) AS ng
       |  FROM sp GROUP BY 1, 2)""".stripMargin
  }

  private def q109OracleSql: String =
    s"""WITH $repeatedSpanCtes
       |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_spans,
       |  CAST(SUM(e - s) AS BIGINT) AS covered_tokens,
       |  CAST(SUM(ng) AS BIGINT) AS n_grams
       |FROM spans GROUP BY doc_id""".stripMargin

  private def q110OracleSql: String =
    s"""WITH $repeatedSpanCtes,
       |allpos AS (SELECT doc_id, unnest(range(len(t))) AS p, t FROM toks),
       |cov AS (SELECT DISTINCT a.doc_id, a.p FROM allpos a
       |  JOIN spans x ON a.doc_id = x.doc_id AND a.p >= x.s AND a.p < x.e),
       |kept AS (SELECT a.doc_id, a.p, a.t[a.p + 1] AS tok
       |  FROM allpos a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
       |  WHERE c.p IS NULL),
       |cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt,
       |    COUNT(1) AS nk
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(c.nk, 0) AS BIGINT) AS n_tokens_kept,
       |  CAST(len(d.t) - COALESCE(c.nk, 0) AS BIGINT) AS n_tokens_cut,
       |  md5(COALESCE(c.txt, '')) AS text_md5
       |FROM toks d LEFT JOIN cleaned c ON d.doc_id = c.doc_id""".stripMargin

  /** CTE chain ending in `ckept(doc_id, source, text)` — the curated
    * corpus (Curate.curate semantics: non-null, exact-dup representative,
    * lang in (en, es), quality >= 0.3). Lang/quality mirrors are the
    * q97/q105 oracle expressions; the rep rule is q43's. */
  private def curatedDocsCtes: String = {
    def sc(set: Seq[String]) =
      s"len(list_filter(ctk, x -> x IN (${set.map(w => s"'$w'").mkString(",")})))"
    val scores = T.langMarkers.map { case (l, ws) => l -> sc(ws) }
    val g = scores.map(_._2).mkString("greatest(", ", ", ")")
    val langCase = scores.map { case (l, s) =>
      s"WHEN $s > 0 AND $s = $g THEN '$l'" }.mkString(" ")
    s"""cb AS (SELECT doc_id, source, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS ctk,
       |    MIN(doc_id) OVER (PARTITION BY
       |      coalesce(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
       |        '__null__' || CAST(doc_id AS VARCHAR))) AS rep_id
       |  FROM documents),
       |cs AS (SELECT doc_id, source, text, rep_id,
       |    CASE $langCase ELSE 'und' END AS clang,
       |    ROUND(
       |      LEAST(CAST(len(ctk) AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |      (CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(length(text) - length(regexp_replace(text,
       |          '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END) * 0.4 +
       |      LEAST((CASE WHEN len(ctk) = 0 THEN 0.0
       |        ELSE CAST(len(list_filter(ctk,
       |          x -> x IN ('the','a','of','and','to','in','is')))
       |          AS DOUBLE) / len(ctk) END) * 5.0, 1.0) * 0.2,
       |    4) AS cq
       |  FROM cb),
       |ckept AS (SELECT doc_id, source, text FROM cs
       |  WHERE text IS NOT NULL AND doc_id = rep_id
       |    AND clang IN ('en','es') AND cq >= 0.3)""".stripMargin
  }

  /** q114: the composed pipeline — curate -> cut repeated spans (over the
    * CURATED subset) -> BPE-count the cleaned text -> pack by token
    * budget. Every stage reuses its own query's oracle machinery. */
  private def q114OracleSql: String = {
    val bpe = Bpe.oracleTokenCountSql("txt", BpeVocab.merges)
    s"""WITH $curatedDocsCtes,
       |${repeatedSpanCtesOver("ckept")},
       |allpos AS (SELECT doc_id, unnest(range(len(t))) AS p, t FROM toks),
       |cov AS (SELECT DISTINCT a.doc_id, a.p FROM allpos a
       |  JOIN spans x ON a.doc_id = x.doc_id AND a.p >= x.s AND a.p < x.e),
       |kept AS (SELECT a.doc_id, a.p, a.t[a.p + 1] AS tok
       |  FROM allpos a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
       |  WHERE c.p IS NULL),
       |cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ctxt,
       |    COUNT(1) AS nk
       |  FROM kept GROUP BY doc_id),
       |cw AS (SELECT d.doc_id, k.source, COALESCE(c.ctxt, '') AS txt,
       |    len(d.t) - COALESCE(c.nk, 0) AS ncut
       |  FROM toks d
       |  JOIN ckept k ON d.doc_id = k.doc_id
       |  LEFT JOIN cleaned c ON d.doc_id = c.doc_id),
       |bp AS (SELECT doc_id, source, $bpe AS bpe, ncut FROM cw),
       |packed AS (SELECT source, doc_id, bpe, ncut,
       |    COALESCE(SUM(bpe) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM bp)
       |SELECT source, CAST(cum // 2048 AS BIGINT) AS seq_id,
       |  COUNT(1) AS n_docs, CAST(SUM(bpe) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(ncut) AS BIGINT) AS cut_tokens
       |FROM packed GROUP BY 1, 2""".stripMargin
  }

  /** q133: the full corpus-to-shards chain — the q114 oracle with a
    * semantic-decontamination stage (q119's integer-cosine rule over
    * the curated docs' embeddings, inner-joined: docs without an
    * embedding cannot hit and stay) injected between curation and the
    * span cut. */
  private def q133OracleSql: String = {
    val bpe = Bpe.oracleTokenCountSql("txt", BpeVocab.merges)
    s"""WITH $curatedDocsCtes,
       |dau AS (SELECT e.vec_id, list_transform(e.embedding,
       |    x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
       |  FROM embeddings e JOIN ckept k ON e.vec_id = k.doc_id
       |  WHERE e.embedding IS NOT NULL),
       |dbu AS (SELECT list_transform(embedding,
       |    x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
       |  FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL),
       |dan AS (SELECT vec_id, xu,
       |    list_sum(list_transform(xu, x -> x * x)) AS n2 FROM dau),
       |dbn AS (SELECT xu,
       |    list_sum(list_transform(xu, x -> x * x)) AS n2 FROM dbu),
       |dhits AS (SELECT DISTINCT vec_id FROM (
       |    SELECT a.vec_id,
       |      list_sum(list_transform(list_zip(a.xu, b.xu),
       |        p -> p[1] * p[2])) AS dot,
       |      a.n2 AS an2, b.n2 AS bn2
       |    FROM dan a, dbn b)
       |  WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000
       |    >= 2500 * CAST(an2 AS HUGEINT) * bn2),
       |ckept2 AS (SELECT doc_id, source, text FROM ckept
       |  WHERE doc_id NOT IN (SELECT vec_id FROM dhits)),
       |${repeatedSpanCtesOver("ckept2")},
       |allpos AS (SELECT doc_id, unnest(range(len(t))) AS p, t FROM toks),
       |cov AS (SELECT DISTINCT a.doc_id, a.p FROM allpos a
       |  JOIN spans x ON a.doc_id = x.doc_id AND a.p >= x.s AND a.p < x.e),
       |kept AS (SELECT a.doc_id, a.p, a.t[a.p + 1] AS tok
       |  FROM allpos a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
       |  WHERE c.p IS NULL),
       |cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ctxt,
       |    COUNT(1) AS nk
       |  FROM kept GROUP BY doc_id),
       |cw AS (SELECT d.doc_id, k.source, COALESCE(c.ctxt, '') AS txt,
       |    len(d.t) - COALESCE(c.nk, 0) AS ncut
       |  FROM toks d
       |  JOIN ckept2 k ON d.doc_id = k.doc_id
       |  LEFT JOIN cleaned c ON d.doc_id = c.doc_id),
       |bp AS (SELECT doc_id, source, $bpe AS bpe, ncut FROM cw),
       |packed AS (SELECT source, doc_id, bpe, ncut,
       |    COALESCE(SUM(bpe) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM bp)
       |SELECT source, CAST(cum // 2048 AS BIGINT) AS seq_id,
       |  COUNT(1) AS n_docs, CAST(SUM(bpe) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(ncut) AS BIGINT) AS cut_tokens
       |FROM packed GROUP BY 1, 2""".stripMargin
  }

  /** q151: the q133 chain (curate -> semantic decontamination -> cut
    * repeated spans) replayed verbatim up to the cleaned per-doc text
    * `cw`, then the byte-level 1024-merge chain over THAT text and the
    * q147 shard tail — every sequence's id stream md5-pinned. */
  private def q151OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE $curatedDocsCtes,
       |dau AS (SELECT e.vec_id, list_transform(e.embedding,
       |    x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
       |  FROM embeddings e JOIN ckept k ON e.vec_id = k.doc_id
       |  WHERE e.embedding IS NOT NULL),
       |dbu AS (SELECT list_transform(embedding,
       |    x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
       |  FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL),
       |dan AS (SELECT vec_id, xu,
       |    list_sum(list_transform(xu, x -> x * x)) AS n2 FROM dau),
       |dbn AS (SELECT xu,
       |    list_sum(list_transform(xu, x -> x * x)) AS n2 FROM dbu),
       |dhits AS (SELECT DISTINCT vec_id FROM (
       |    SELECT a.vec_id,
       |      list_sum(list_transform(list_zip(a.xu, b.xu),
       |        p -> p[1] * p[2])) AS dot,
       |      a.n2 AS an2, b.n2 AS bn2
       |    FROM dan a, dbn b)
       |  WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000
       |    >= 2500 * CAST(an2 AS HUGEINT) * bn2),
       |ckept2 AS (SELECT doc_id, source, text FROM ckept
       |  WHERE doc_id NOT IN (SELECT vec_id FROM dhits)),
       |${repeatedSpanCtesOver("ckept2")},
       |allpos AS (SELECT doc_id, unnest(range(len(t))) AS p, t FROM toks),
       |cov AS (SELECT DISTINCT a.doc_id, a.p FROM allpos a
       |  JOIN spans x ON a.doc_id = x.doc_id AND a.p >= x.s AND a.p < x.e),
       |kept AS (SELECT a.doc_id, a.p, a.t[a.p + 1] AS tok
       |  FROM allpos a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
       |  WHERE c.p IS NULL),
       |cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ctxt
       |  FROM kept GROUP BY doc_id),
       |cw AS (SELECT d.doc_id, k.source, COALESCE(c.ctxt, '') AS txt
       |  FROM toks d
       |  JOIN ckept2 k ON d.doc_id = k.doc_id
       |  LEFT JOIN cleaned c ON d.doc_id = c.doc_id),
       |${Bpe.oracleByteCtes("(SELECT doc_id, txt FROM cw) src",
            "doc_id", "txt", BpeByteVocab.merges)},
       |ids AS (SELECT c.doc_id, c.source,
       |    ${Bpe.oracleIdsListSql("e.s")} AS ids
       |  FROM cw c
       |  JOIN (SELECT doc_id, s FROM enc WHERE r = $n) e USING (doc_id)),
       |cum AS (SELECT source, doc_id, ids,
       |    COALESCE(SUM(len(ids)) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
       |  FROM ids),
       |t0 AS (SELECT source, c, ids, UNNEST(range(len(ids))) AS i FROM cum),
       |tt AS (SELECT source, c + i AS gp,
       |    ids[CAST(i AS INT) + 1] AS tok FROM t0)
       |SELECT source, CAST(gp // 2048 AS BIGINT) AS seq_id,
       |  CAST(COUNT(1) AS BIGINT) AS n_tokens,
       |  md5(string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY gp)) AS ids_md5
       |FROM tt GROUP BY 1, 2""".stripMargin
  }

  /** q115: the perceptron weight trajectory replayed as chained CTEs —
    * one (e_k, w_k) pair per epoch, margins in HUGEINT. Bit-exact because
    * the training arithmetic is pure integer sums. */
  private[graft] val perceptronFeatCols = Seq("f_ntok", "f_alpha", "f_stop")

  /** The q115/q125 feature frame: lang label in {-1,+1} + three capped
    * integer features over the document text. */
  private def perceptronFeatures(docs: DataFrame): DataFrame = {
    val toks = T.tokens(T.normalized(col("text")))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    docs.select(
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      least(size(toks), lit(500)).cast("long").as("f_ntok"),
      expr("length(regexp_replace(text, '[^A-Za-z]', '')) " +
        "* CAST(1000 AS BIGINT) div greatest(length(text), 1)")
        .as("f_alpha"),
      least(size(filter(toks, x => x.isin(stop.map(lit(_)): _*))),
        lit(50)).cast("long").as("f_stop"))
  }

  private def q115OracleSql: String = {
    val (ctes, _, epochs) = perceptronOracleParts
    val feats = perceptronFeatCols
    val sel = (1 to epochs).map { k =>
      s"SELECT CAST($k AS BIGINT) AS epoch, b, " +
        feats.map(c => s"w_$c").mkString(", ") + s", n_updates FROM w$k"
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$sel"
  }

  /** q125: the q115 chain's FINAL weights applied back to every row —
    * margin > 0 -> +1, <= 0 -> -1, NULL -> NULL (both engines). */
  private def q125OracleSql: String = {
    val (ctes, finalMargin, _) = perceptronOracleParts
    s"""WITH $ctes
       |SELECT CAST(y AS BIGINT) AS y, CAST(pred AS BIGINT) AS prediction,
       |  CAST(COUNT(1) AS BIGINT) AS n
       |FROM (SELECT y,
       |    CASE WHEN ($finalMargin) > 0 THEN 1
       |      WHEN ($finalMargin) <= 0 THEN -1 END AS pred
       |  FROM f, w${5})
       |GROUP BY y, pred""".stripMargin
  }

  /** Shared q115/q125 oracle machinery: the feature CTE + the full
    * epoch chain (e1/w1 ... e5/w5), plus the margin expression of the
    * FINAL weight row. */
  private def perceptronOracleParts: (String, String, Int) = {
    val feats = perceptronFeatCols
    val epochs = 5
    val f =
      s"""f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         |    LEAST(len(tk), 500) AS f_ntok,
         |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000)
         |      // GREATEST(length(text), 1) AS f_alpha,
         |    LEAST(len(list_filter(tk,
         |      x -> x IN ('the','a','of','and','to','in','is'))), 50) AS f_stop
         |  FROM (SELECT lang, text, $duckToks AS tk FROM documents))""".stripMargin
    def margin(k: Int): String =
      if (k == 0) "0::HUGEINT"
      else s"w$k.b::HUGEINT" + feats.map(c =>
        s" + w$k.w_$c::HUGEINT * $c::HUGEINT").mkString
    val chain = (1 to epochs).map { k =>
      val m = margin(k - 1)
      val from = if (k == 1) "f" else s"f, w${k - 1}"
      val e =
        s"""e$k AS (SELECT
           |    SUM(CASE WHEN y::HUGEINT * ($m) <= 0 THEN y ELSE 0 END) AS db,
           |    ${feats.map(c => s"SUM(CASE WHEN y::HUGEINT * ($m) <= 0 " +
                s"THEN y * $c ELSE 0 END) AS dw_$c").mkString(",\n    ")},
           |    SUM(CASE WHEN y::HUGEINT * ($m) <= 0 THEN 1 ELSE 0 END) AS n
           |  FROM $from)""".stripMargin
      val prevB = if (k == 1) "0" else s"w${k - 1}.b"
      def prevW(c: String) = if (k == 1) "0" else s"w${k - 1}.w_$c"
      val prevFrom = if (k == 1) s"e$k" else s"e$k, w${k - 1}"
      val w =
        s"""w$k AS (SELECT CAST($prevB + e$k.db AS BIGINT) AS b,
           |    ${feats.map(c => s"CAST(${prevW(c)} + e$k.dw_$c AS BIGINT) AS w_$c")
                .mkString(",\n    ")},
           |    CAST(e$k.n AS BIGINT) AS n_updates
           |  FROM $prevFrom)""".stripMargin
      s"$e,\n$w"
    }.mkString(",\n")
    (s"$f,\n$chain", margin(epochs), epochs)
  }

  /** q116: the k-means trajectory replayed per iteration — assignment by
    * rank-1 argmin (ties to lowest j), centroid update by exact integer
    * sums with truncating double division, empty clusters carried. */
  private def q116OracleSql: String = {
    val (k, iters, dim, scale) = (4, 3, 64, 1000000L)
    val head =
      s"""xu AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(trunc(x::DOUBLE * $scale) AS BIGINT)) AS xu
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |dd AS (SELECT unnest(range($dim)) AS d),
         |c0 AS (SELECT CAST(s.j AS INT) AS j, dd.d AS d, s.xu[dd.d + 1] AS c
         |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, xu
         |    FROM (SELECT vec_id, xu FROM xu ORDER BY vec_id LIMIT $k)) s, dd)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val p = i - 1
      s"""a$i AS (SELECT v.vec_id, c.j,
         |    SUM((v.xu[c.d + 1] - c.c) * (v.xu[c.d + 1] - c.c)) AS dist
         |  FROM xu v, c$p c GROUP BY 1, 2),
         |b$i AS (SELECT vec_id, j AS cl FROM (SELECT vec_id, j,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
         |  FROM a$i) WHERE rn = 1),
         |s$i AS (SELECT b.cl, dd.d, CAST(SUM(v.xu[dd.d + 1]) AS BIGINT) AS s,
         |    COUNT(1) AS n
         |  FROM xu v JOIN b$i b ON v.vec_id = b.vec_id, dd GROUP BY 1, 2),
         |c$i AS (SELECT cl AS j, d,
         |    CAST(trunc(CAST(s AS DOUBLE) / n) AS BIGINT) AS c FROM s$i
         |  UNION ALL SELECT j, d, c FROM c$p
         |    WHERE j NOT IN (SELECT DISTINCT cl FROM b$i)),
         |o$i AS (SELECT $i AS iter, s.cl AS cluster, MAX(s.n) AS n_members,
         |    SUM(c.c) AS c_checksum,
         |    MAX(CASE WHEN c.d = 0 THEN c.c END) AS c_d0,
         |    MAX(CASE WHEN c.d = ${dim - 1} THEN c.c END) AS c_dlast
         |  FROM s$i s JOIN c$i c ON s.cl = c.j AND s.d = c.d
         |  GROUP BY s.cl)""".stripMargin
    }.mkString(",\n")
    val union = (1 to iters).map(i => s"SELECT * FROM o$i").mkString(" UNION ALL ")
    s"""WITH $head,
       |$iterCtes
       |SELECT CAST(iter AS BIGINT) AS iter, CAST(cluster AS BIGINT) AS cluster,
       |  CAST(n_members AS BIGINT) AS n_members,
       |  CAST(c_checksum AS BIGINT) AS c_checksum,
       |  CAST(c_d0 AS BIGINT) AS c_d0, CAST(c_dlast AS BIGINT) AS c_dlast
       |FROM ($union)""".stripMargin
  }

  /** Shared replay of Similarity.pqTrain + pqEncode (m=4 subspaces x
    * k=8 codewords, 2 Lloyd's iterations): one q116-style trajectory
    * chain PER SUBSPACE over the sliced units, then the row-local
    * argmin encode. Ends with CTEs `cfin` (s, j, d, c) and `enc`
    * (vec_id, s, code) for the finals to consume. */
  private def pqOracleWithBody: String = {
    val (m, k, iters, subDim, scale) = (4, 8, 2, 16, 1000000L)
    val head =
      s"""xu AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(trunc(x::DOUBLE * $scale) AS BIGINT)) AS xu
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |dd AS (SELECT unnest(range($subDim)) AS d),
         |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, xu
         |  FROM (SELECT vec_id, xu FROM xu ORDER BY vec_id LIMIT $k))""".stripMargin
    val chains = (0 until m).map { s =>
      val off = s * subDim
      val init =
        s"""k${s}c0 AS (SELECT CAST(sd.j AS INT) AS j, dd.d AS d,
           |  sd.xu[$off + dd.d + 1] AS c FROM seeds sd, dd)""".stripMargin
      val iterCtes = (1 to iters).map { i =>
        val p = i - 1
        s"""k${s}a$i AS (SELECT v.vec_id, c.j,
           |    SUM((v.xu[$off + c.d + 1] - c.c) * (v.xu[$off + c.d + 1] - c.c)) AS dist
           |  FROM xu v, k${s}c$p c GROUP BY 1, 2),
           |k${s}b$i AS (SELECT vec_id, j AS cl FROM (SELECT vec_id, j,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
           |  FROM k${s}a$i) WHERE rn = 1),
           |k${s}s$i AS (SELECT b.cl, dd.d,
           |    CAST(SUM(v.xu[$off + dd.d + 1]) AS BIGINT) AS s, COUNT(1) AS n
           |  FROM xu v JOIN k${s}b$i b ON v.vec_id = b.vec_id, dd GROUP BY 1, 2),
           |k${s}c$i AS (SELECT cl AS j, d,
           |    CAST(trunc(CAST(s AS DOUBLE) / n) AS BIGINT) AS c FROM k${s}s$i
           |  UNION ALL SELECT j, d, c FROM k${s}c$p
           |    WHERE j NOT IN (SELECT DISTINCT cl FROM k${s}b$i))""".stripMargin
      }.mkString(",\n")
      s"$init,\n$iterCtes"
    }.mkString(",\n")
    val cfin = (0 until m).map(s =>
      s"SELECT $s AS s, j, d, c FROM k${s}c$iters").mkString(" UNION ALL ")
    s"""$head,
       |$chains,
       |cfin AS ($cfin),
       |ed AS (SELECT v.vec_id, c.s, c.j,
       |    SUM((v.xu[c.s * $subDim + c.d + 1] - c.c)
       |      * (v.xu[c.s * $subDim + c.d + 1] - c.c)) AS dist
       |  FROM xu v, cfin c GROUP BY 1, 2, 3),
       |enc AS (SELECT vec_id, s, j AS code FROM (SELECT vec_id, s, j,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
       |  FROM ed) WHERE rn = 1)""".stripMargin
  }

  private def q117OracleSql: String =
    s"""WITH $pqOracleWithBody
       |SELECT vec_id,
       |  CAST(MAX(CASE WHEN s = 0 THEN code END) AS BIGINT) AS c0,
       |  CAST(MAX(CASE WHEN s = 1 THEN code END) AS BIGINT) AS c1,
       |  CAST(MAX(CASE WHEN s = 2 THEN code END) AS BIGINT) AS c2,
       |  CAST(MAX(CASE WHEN s = 3 THEN code END) AS BIGINT) AS c3
       |FROM enc GROUP BY vec_id""".stripMargin

  private def q118OracleSql: String =
    s"""WITH $pqOracleWithBody,
       |p AS (SELECT vec_id, xu FROM xu WHERE vec_id < 4),
       |adc AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |    SUM((p.xu[c.s * 16 + c.d + 1] - c.c)
       |      * (p.xu[c.s * 16 + c.d + 1] - c.c)) AS dist
       |  FROM p, enc e JOIN cfin c ON c.s = e.s AND c.j = e.code
       |  WHERE e.vec_id <> p.vec_id GROUP BY 1, 2)
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(dist AS BIGINT) AS adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY dist, neighbor_id) AS rn FROM adc)
       |WHERE rn <= 5""".stripMargin

  /** q127: the complete IVF-PQ replay — coarse Lloyd's chain (list
    * form), argmin assignment, residual rows, four residual-subspace
    * Lloyd's chains (row form), argmin encode, coarse-list probe
    * ranking at nProbe=2, and the residual ADC. Every stage mirrors
    * Similarity.ivfPqBuild/ivfPqQuery arithmetic exactly. */
  private def q127OracleSql: String =
    s"""WITH $q127OracleBody
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(dist AS BIGINT) AS adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY dist, neighbor_id) AS rn FROM adc)
       |WHERE rn <= 5""".stripMargin

  /** q158: the incremental-append replay — q127's full IVF-PQ chain
    * with training restricted to the prior slice (trainWhere) while
    * assignment/encode cover the combined corpus; the probe select is
    * q127's verbatim. */
  private def q158OracleSql: String =
    s"""WITH ${ivfPqOracleBody(nListsSql = "4", nProbeSql = "2", m = 4,
        kCodes = 8, iters = 2, dim = 64, scale = 1000000L,
        probeWhere = "vec_id < 4", trainWhere = "vec_id % 5 <> 0")}
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(dist AS BIGINT) AS adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY dist, neighbor_id) AS rn FROM adc)
       |WHERE rn <= 5""".stripMargin

  /** q161: q158's replay with the tombstoned ids excluded BEFORE the
    * per-probe ranking — deletion must shrink the candidate set, not
    * blank out ranks. */
  private def q161OracleSql: String =
    s"""WITH ${ivfPqOracleBody(nListsSql = "4", nProbeSql = "2", m = 4,
        kCodes = 8, iters = 2, dim = 64, scale = 1000000L,
        probeWhere = "vec_id < 4", trainWhere = "vec_id % 5 <> 0")}
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(dist AS BIGINT) AS adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY dist, neighbor_id) AS rn
       |  FROM adc WHERE neighbor_id % 7 <> 1)
       |WHERE rn <= 5""".stripMargin

  /** q163: q161's replay with compaction's candidate set — deleted ids
    * excluded UNLESS re-added after their tombstone (the even half).
    * A compaction that kept a masked row, or dropped a re-add, moves
    * the per-probe ranking and breaks the hash. */
  private def q163OracleSql: String =
    s"""WITH ${ivfPqOracleBody(nListsSql = "4", nProbeSql = "2", m = 4,
        kCodes = 8, iters = 2, dim = 64, scale = 1000000L,
        probeWhere = "vec_id < 4", trainWhere = "vec_id % 5 <> 0")}
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(dist AS BIGINT) AS adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY dist, neighbor_id) AS rn
       |  FROM adc
       |  WHERE NOT (neighbor_id % 7 = 1 AND neighbor_id % 2 = 1))
       |WHERE rn <= 5""".stripMargin

  /** q162/q165: the drift monitor replay — q130's recall tail over a
    * corpus UNIONed with its drifted copies. `trainWhere` selects the
    * codebook training slice: the pre-drift ids for q162 (the
    * ivfPqAppend frozen-codebook split) and everything for q165 (the
    * retrained remediation). */
  private def driftRecallOracleSql(trainWhere: String): String = {
    val corpus =
      """(SELECT vec_id, embedding FROM embeddings
        |   UNION ALL
        |   SELECT vec_id + 1000000 AS vec_id,
        |     list_transform(embedding,
        |       x -> CAST(x + 0.25 AS FLOAT)) AS embedding
        |   FROM embeddings WHERE vec_id % 3 = 0) gdrift"""
        .stripMargin
    s"""WITH ${ivfPqOracleBody(nListsSql = "4", nProbeSql = "2", m = 4,
        kCodes = 8, iters = 2, dim = 64, scale = 1000000L,
        probeWhere = "vec_id IN (0, 1, 1000000, 1000003)",
        trainWhere = trainWhere, corpusSql = corpus)},
       |ax AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM adc) WHERE rn <= 5),
       |exd AS (SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(p.xu, v.xu),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
       |  FROM p, xu v WHERE v.vec_id <> p.vec_id),
       |ex AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM exd) WHERE rn <= 5),
       |hits AS (SELECT probe_id, COUNT(1) AS n_hits
       |  FROM ax JOIN ex USING (probe_id, neighbor_id) GROUP BY 1)
       |SELECT e.probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(5 AS BIGINT) AS k
       |FROM (SELECT DISTINCT probe_id FROM ex) e
       |LEFT JOIN hits h ON e.probe_id = h.probe_id""".stripMargin
  }

  /** q167: q158's replay over the CDC stream's final alive set — an id
    * is excluded iff its LAST change was the delete: %7==1 (deleted),
    * odd (not re-upserted by the third batch), and %13<>2 (not
    * re-upserted in the delete's own trigger). Re-upserted ids must
    * rank exactly ONCE — a duplicate copy surviving the upsert
    * self-mask would double a neighbor row and break the hash. */
  private def q167OracleSql: String =
    s"""WITH ${ivfPqOracleBody(nListsSql = "4", nProbeSql = "2", m = 4,
        kCodes = 8, iters = 2, dim = 64, scale = 1000000L,
        probeWhere = "vec_id < 4", trainWhere = "vec_id % 5 <> 0")}
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(dist AS BIGINT) AS adc_dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY dist, neighbor_id) AS rn
       |  FROM adc
       |  WHERE NOT (neighbor_id % 7 = 1 AND neighbor_id % 2 = 1
       |    AND neighbor_id % 13 <> 2))
       |WHERE rn <= 5""".stripMargin

  private def q162OracleSql: String =
    driftRecallOracleSql(trainWhere = "vec_id < 1000000")

  private def q165OracleSql: String =
    driftRecallOracleSql(trainWhere = "TRUE")

  /** q119/q131 (batch + streaming twin): the integer-cosine
    * decontamination replay. */
  private def q119OracleSql: String =
    """WITH au AS (SELECT vec_id, label, list_transform(embedding,
             x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
           FROM embeddings WHERE vec_id >= 32),
         bu AS (SELECT list_transform(embedding,
             x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
           FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL),
         an AS (SELECT vec_id, label, xu,
             list_sum(list_transform(xu, x -> x * x)) AS n2 FROM au),
         bn AS (SELECT xu,
             list_sum(list_transform(xu, x -> x * x)) AS n2 FROM bu),
         hits AS (SELECT DISTINCT vec_id FROM (
             SELECT a.vec_id,
               list_sum(list_transform(list_zip(a.xu, b.xu),
                 p -> p[1] * p[2])) AS dot,
               a.n2 AS an2, b.n2 AS bn2
             FROM an a, bn b)
           WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000
             >= 2500 * CAST(an2 AS HUGEINT) * bn2)
         SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(1) AS BIGINT) AS n_kept,
           CAST(SUM(vec_id) AS BIGINT) AS sum_ids
         FROM an WHERE vec_id NOT IN (SELECT vec_id FROM hits)
         GROUP BY 1"""

  /** q140/q141: the byte-level 1024-merge chain replayed as a recursive
    * CTE (one replace per iteration over the committed merge table) —
    * q140 per sampled doc, q141 the corpus-wide token mass. */
  private def q140OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 29 = 3) src",
        "doc_id", "text", BpeByteVocab.merges)}
       SELECT doc_id, CAST(length(s) AS BIGINT) AS n_tokens
       FROM enc WHERE r = $n"""
  }

  private def q141OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)}
       SELECT CAST(COUNT(1) AS BIGINT) AS n_docs,
         CAST(SUM(length(s)) AS BIGINT) AS token_mass
       FROM enc WHERE r = $n"""
  }

  /** q146: the q140 sample's token IDS pinned position-by-position — the
    * recursive-CTE chain replayed, then every char of the merged string
    * mapped back to its symbol id and space-joined. */
  private def q146OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 29 = 3) src",
        "doc_id", "text", BpeByteVocab.merges)}
       SELECT doc_id, CAST(length(s) AS BIGINT) AS n_tokens,
         ${Bpe.oracleIdsStringSql("s")} AS ids_str
       FROM enc WHERE r = $n"""
  }

  /** q147: the full-corpus shard replay — encode every doc, lay the id
    * streams out per source in doc_id order, cut every 2048 tokens, and
    * md5 each sequence's space-joined ids. */
  private def q147OracleSql: String = packOracleSql()

  /** q147/q157/q164's one-shot-pack replay, restricted to the docs
    * matching `docWhere` — q166 passes the as-of id-range cut. */
  private def packOracleSql(docWhere: String = "TRUE"): String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)},
       ids AS (SELECT d.doc_id, d.source,
           ${Bpe.oracleIdsListSql("e.s")} AS ids
         FROM documents d
         JOIN (SELECT doc_id, s FROM enc WHERE r = $n) e USING (doc_id)
         WHERE $docWhere),
       cum AS (SELECT source, doc_id, ids,
           COALESCE(SUM(len(ids)) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         FROM ids),
       t0 AS (SELECT source, c, ids, UNNEST(range(len(ids))) AS i FROM cum),
       t AS (SELECT source, c + i AS gp,
           ids[CAST(i AS INT) + 1] AS tok FROM t0)
       SELECT source, CAST(gp // 2048 AS BIGINT) AS seq_id,
         CAST(COUNT(1) AS BIGINT) AS n_tokens,
         md5(string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY gp)) AS ids_md5
       FROM t GROUP BY 1, 2"""
  }

  /** q154: the incremental layout replayed — the combined old-then-new
    * stream per shard (old docs in id order, then new docs in id order),
    * cut every 2048, restricted to the sequences at-or-after each
    * shard's old-stream boundary (old_total div budget) for shards that
    * received new documents — exactly the delta the operator emits. */
  private def q154OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)},
       ids AS (SELECT d.doc_id, d.source, (d.doc_id % 3 = 0) AS nw,
           ${Bpe.oracleIdsListSql("e.s")} AS ids
         FROM documents d
         JOIN (SELECT doc_id, s FROM enc WHERE r = $n) e USING (doc_id)),
       cum AS (SELECT source, doc_id, nw, ids,
           COALESCE(SUM(len(ids)) OVER (PARTITION BY source
             ORDER BY nw, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         FROM ids),
       ot AS (SELECT source,
           COALESCE(SUM(CASE WHEN NOT nw THEN len(ids) END), 0)
             AS old_total,
           COUNT(CASE WHEN nw THEN 1 END) AS n_new
         FROM ids GROUP BY source),
       t0 AS (SELECT source, c, ids, UNNEST(range(len(ids))) AS i
         FROM cum),
       tt AS (SELECT source, c + i AS gp,
           ids[CAST(i AS INT) + 1] AS tok FROM t0)
       SELECT source, CAST(gp // 2048 AS BIGINT) AS seq_id,
         CAST(COUNT(1) AS BIGINT) AS n_tokens,
         md5(string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY gp)) AS ids_md5
       FROM tt JOIN ot USING (source)
       WHERE n_new > 0 AND gp // 2048 >= old_total // 2048
       GROUP BY 1, 2"""
  }

  /** q155: the full incremental-refresh chain replayed — q80's
    * fingerprint anti-join, q88's Portable minhash band/verify, q92's
    * distinct-5-gram decontamination, the recursive byte-BPE chain, and
    * q154's combined-stream repack with the delta cut. Stage outputs
    * thread through as id sets (ex -> nr -> surv), so a divergence at
    * ANY stage boundary breaks the final md5 pins. */
  private def q155OracleSql: String =
    refreshOracleSql(deltaOnly = true)

  /** q168: q155's full refresh-chain replay, but the final projection
    * is the WHOLE store view (old + new sequences), matching the
    * streaming edition's output — the merged ShardSink store after the
    * micro-batch appends. */
  private def q168OracleSql: String =
    refreshOracleSql(deltaOnly = false)

  /** q170: the cross-store refresh — the SAME replayed chain feeds two
    * pins in one row set: the served vector index's id set (prior docs
    * ∪ the accepted survivors — a doc dropped by any dedup tier must be
    * absent from the index exactly as it is absent from the shard
    * store) and a canonical digest of the whole shard store view
    * (per-sequence md5s folded order-independently), cross-joined onto
    * every id row so one oracle checks both stores from one stream. */
  private def q170OracleSql: String =
    crossStoreOracleSql(refreshCtes)

  /** q171: the SAME two pins as q170, but at a PAIRED mid-history
    * point — index `asOf` batch 1 with store `asOf` version 2, i.e.
    * both stores as they stood after the second of three drops. The
    * replay restricts the arriving stream to that prefix (legitimate
    * because id-ordered drops are prefix-closed, see [[refreshCtes]]),
    * so one oracle pins that snapshots of the two stores COMPOSE
    * consistently at interior points of the shared batch sequence,
    * not just at the latest view. */
  private def q171OracleSql: String =
    crossStoreOracleSql(refreshCtes(
      "d.doc_id % 3 = 0 AND d.doc_id * 3 <= " +
        "2 * (SELECT MAX(doc_id) FROM nn WHERE doc_id % 3 = 0)"))

  /** q173: q170's two cross-store pins, but the arriving stream is
    * GATED by view->click attribution run through the real
    * stream-stream interval join — the oracle replays the gate as the
    * closed-form arithmetic that generated the engagement fixture: a
    * doc attributes iff its click exists (doc_id % 5 <> 2) and the
    * click's +(doc_id % 8)*3300 s offset is inside the 6 h window. If
    * the engine's join leaked an out-of-window click or dropped a
    * pair, the served id set diverges. */
  private def q173OracleSql: String =
    crossStoreOracleSql(refreshCtes(
      "d.doc_id % 3 = 0 AND d.doc_id % 5 <> 2 " +
        "AND (d.doc_id % 8) * 3300 <= 21600"))

  /** q174: q170's two cross-store pins over a TWO-SESSION drain whose
    * second session replays drop-0 docs under fresh ids (+9,999,999,
    * a multiple of 3 so the prior/new split is unchanged). The oracle
    * unions the same synthetic rows into the corpus CTE; the one-shot
    * chain's first-writer-wins by id kills every replay, so a pipeline
    * that forgot its session-1 ledger across the restart diverges on
    * both the served id set and the store digest. */
  private def q174OracleSql: String =
    crossStoreOracleSql(refreshCtes("d.doc_id % 3 = 0",
      " UNION ALL SELECT doc_id + 9999999, source, text " +
        "FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0 " +
        "AND doc_id % 7 = 1 AND doc_id * 4 <= " +
        "(SELECT MAX(doc_id) FROM documents " +
        "WHERE text IS NOT NULL AND doc_id % 3 = 0)"))

  private def crossStoreOracleSql(ctes: String): String =
    s"""$ctes,
       |pack AS (SELECT source, CAST(gp // 2048 AS BIGINT) AS seq_id,
       |    CAST(COUNT(1) AS BIGINT) AS n_tokens,
       |    md5(string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY gp))
       |      AS ids_md5
       |  FROM tt GROUP BY 1, 2),
       |dg AS (SELECT md5(string_agg(p, ';' ORDER BY p)) AS store_digest
       |  FROM (SELECT COALESCE(source, '<null>') || '|' ||
       |      CAST(seq_id AS VARCHAR) || '|' ||
       |      CAST(n_tokens AS VARCHAR) || '|' || ids_md5 AS p
       |    FROM pack)),
       |served AS (SELECT doc_id FROM nn WHERE doc_id % 3 <> 0
       |  UNION SELECT doc_id FROM surv)
       |SELECT s.doc_id, dg.store_digest FROM served s, dg"""
      .stripMargin

  private def refreshOracleSql(deltaOnly: Boolean): String =
    s"""$refreshCtes
       |SELECT source, CAST(gp // 2048 AS BIGINT) AS seq_id,
       |  CAST(COUNT(1) AS BIGINT) AS n_tokens,
       |  md5(string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY gp)) AS ids_md5
       |${if (deltaOnly)
           """FROM tt JOIN ot USING (source)
             |WHERE n_new > 0 AND gp // 2048 >= old_total // 2048"""
             .stripMargin
         else "FROM tt"}
       |GROUP BY 1, 2""".stripMargin

  /** The refresh chain's CTE prefix, shared by q168 (pack replay), its
    * delta variant, q170 (cross-store) and q171 (paired snapshots):
    * exact dedup vs the prior corpus with first-writer-wins, banded
    * minhash near-dedup, 5-gram decontamination, byte-BPE encode,
    * combined prior+accepted token stream `tt` cut per shard.
    * `newPred` restricts which docs count as the arriving stream —
    * id-ordered drops are PREFIX-CLOSED (every tier references only
    * prior + strictly-earlier accepted docs, all inside the prefix),
    * so replaying a prefix reproduces exactly the mid-history
    * decisions, which is what makes `asOf` snapshots oraclable. */
  private def refreshCtes: String = refreshCtes("d.doc_id % 3 = 0")

  private def refreshCtes(newPred: String, nnExtra: String = ""): String = {
    val n = BpeByteVocab.merges.size
    val mix = Dedup.mixConstants(32)
    val sigList = (0 until 32).map { j =>
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }.mkString("[", ", ", "]")
    def bkey(s: String) = "md5(array_to_string(list_transform(" +
      s"$s[b.band*4+1 : b.band*4+4], v -> CAST(v AS VARCHAR)), ','))"
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)},
       |nn AS (SELECT doc_id, source, text FROM documents
       |  WHERE text IS NOT NULL$nnExtra),
       |nwd AS (SELECT d.doc_id FROM nn d WHERE $newPred),
       |fp AS (SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
       |  FROM nn),
       |bfp AS (SELECT doc_id, f,
       |    row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
       |  FROM fp WHERE doc_id IN (SELECT doc_id FROM nwd)),
       |ex AS (SELECT doc_id FROM bfp WHERE rn = 1
       |  AND f NOT IN (SELECT f FROM fp WHERE doc_id % 3 <> 0)),
       |toks AS (SELECT doc_id, $duckToks AS t FROM nn),
       |sh AS (SELECT doc_id, ${duckShingles("t", 3)} AS s FROM toks),
       |hs AS (SELECT doc_id,
       |    list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh),
       |sig AS (SELECT doc_id, $sigList AS sig FROM hs),
       |banded AS (SELECT doc_id, sig, b.band, ${bkey("sig")} AS bkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b
       |  WHERE doc_id IN (SELECT doc_id FROM ex)),
       |rbanded AS (SELECT sig AS rsig, b.band, ${bkey("sig")} AS rbkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b
       |  WHERE doc_id % 3 <> 0),
       |near AS (SELECT DISTINCT c.doc_id
       |  FROM banded c JOIN rbanded r ON c.band = r.band AND c.bkey = r.rbkey
       |  WHERE CAST(list_sum(list_transform(list_zip(c.sig, r.rsig),
       |    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
       |    >= 0.8),
       |nr AS (SELECT doc_id FROM ex
       |  WHERE doc_id NOT IN (SELECT doc_id FROM near)),
       |g5 AS (SELECT doc_id, list_distinct(${duckShingles("t", 5)}) AS g
       |  FROM toks),
       |ref5 AS (SELECT DISTINCT unnest(g) AS rg FROM g5
       |  WHERE doc_id % 3 <> 0 AND doc_id % 17 = 3),
       |cont AS (SELECT doc_id FROM (
       |    SELECT c.doc_id FROM (SELECT doc_id, unnest(g) AS cg FROM g5
       |      WHERE doc_id IN (SELECT doc_id FROM nr)) c
       |    JOIN ref5 ON cg = rg)
       |  GROUP BY doc_id HAVING COUNT(1) >= 2),
       |surv AS (SELECT doc_id FROM nr
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |ids AS (SELECT d.doc_id, d.source,
       |    (d.doc_id IN (SELECT doc_id FROM nwd)) AS nw,
       |    ${Bpe.oracleIdsListSql("e.s")} AS ids
       |  FROM nn d
       |  JOIN (SELECT doc_id, s FROM enc WHERE r = $n) e USING (doc_id)
       |  WHERE d.doc_id % 3 <> 0
       |    OR d.doc_id IN (SELECT doc_id FROM surv)),
       |cum AS (SELECT source, doc_id, nw, ids,
       |    COALESCE(SUM(len(ids)) OVER (PARTITION BY source
       |      ORDER BY nw, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
       |  FROM ids),
       |ot AS (SELECT source,
       |    COALESCE(SUM(CASE WHEN NOT nw THEN len(ids) END), 0)
       |      AS old_total,
       |    COUNT(CASE WHEN nw THEN 1 END) AS n_new
       |  FROM ids GROUP BY source),
       |t0 AS (SELECT source, c, ids, UNNEST(range(len(ids))) AS i
       |  FROM cum),
       |tt AS (SELECT source, c + i AS gp,
       |    ids[CAST(i AS INT) + 1] AS tok FROM t0)""".stripMargin
  }

  /** q152: the decode round trip — token counts replayed by the full
    * recursive chain; the DECODED text pinned against the ORIGINAL
    * text's md5 (byte-level BPE is lossless, so decode(encode(t)) == t
    * and the oracle needs no decode machinery of its own). */
  private def q152OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)}
       SELECT e.doc_id, CAST(length(e.s) AS BIGINT) AS n_tokens,
         md5(d.text) AS decoded_md5, TRUE AS roundtrip_ok
       FROM (SELECT doc_id, s FROM enc WHERE r = $n) e
       JOIN documents d USING (doc_id)"""
  }

  /** q144: the compression gate replayed — full merge chain per doc,
    * then the identical integer keep rule. */
  private def q144OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)}
       SELECT d.doc_id,
         CAST(strlen(d.text) AS BIGINT) AS n_bytes,
         CAST(length(e.s) AS BIGINT) AS n_tokens,
         CASE WHEN d.text IS NULL THEN 'null_text'
              WHEN strlen(d.text) * 10 < length(e.s) * 80
                THEN 'low_compression'
              ELSE 'pass' END AS reason
       FROM documents d
       LEFT JOIN (SELECT doc_id, s FROM enc WHERE r = $n) e
         USING (doc_id)"""
  }

  /** q145: q104's packing replay with the byte-level chain providing the
    * token counts. */
  private def q145OracleSql: String = {
    val n = BpeByteVocab.merges.size
    s"""WITH RECURSIVE ${Bpe.oracleByteCtes("documents",
        "doc_id", "text", BpeByteVocab.merges)},
       toks AS (SELECT d.doc_id, d.source,
           COALESCE(CAST(length(e.s) AS BIGINT), 0) AS token_count
         FROM documents d
         LEFT JOIN (SELECT doc_id, s FROM enc WHERE r = $n) e
           USING (doc_id)),
       packed AS (SELECT source, doc_id, token_count,
           COALESCE(SUM(token_count) OVER (PARTITION BY source
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM toks)
       SELECT source, CAST(cum // 2048 AS BIGINT) AS seq_id,
         COUNT(1) AS n_docs,
         CAST(SUM(token_count) AS BIGINT) AS sum_tokens,
         CAST(MIN(cum % 2048) AS BIGINT) AS first_offset
       FROM packed GROUP BY 1, 2"""
  }

  /** q139: the corpus-scale decontamination replay — q119's integer
    * verify reached through the banded sign-LSH prefilter (planes and
    * band slicing shared with the q32 family), so prefilter misses and
    * verify decisions replay identically. */
  private def q139OracleSql: String = {
    val planes = V.randomPlanes(4 * 8, 64, 42L)
    val dot = "list_sum(list_transform(list_zip(a.xu, b.xu), p -> p[1] * p[2]))"
    s"""WITH an AS (SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu,
         ${duckBucket("embedding", planes)} AS sig
         FROM embeddings WHERE vec_id >= 32 AND embedding IS NOT NULL),
       an2 AS (SELECT vec_id, xu, sig,
           list_sum(list_transform(xu, x -> x * x)) AS n2 FROM an),
       ab AS (SELECT vec_id, xu, n2, g.band,
           (sig >> (g.band * 4)) & 15 AS bval
         FROM an2, (SELECT UNNEST(range(8)) AS band) g),
       bn AS (SELECT
           list_transform(embedding,
             x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu,
           ${duckBucket("embedding", planes)} AS sig
         FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL),
       bn2 AS (SELECT xu, sig,
           list_sum(list_transform(xu, x -> x * x)) AS n2 FROM bn),
       bb AS (SELECT xu, n2, g.band, (sig >> (g.band * 4)) & 15 AS bval
         FROM bn2, (SELECT UNNEST(range(8)) AS band) g),
       hits AS (SELECT DISTINCT vec_id FROM (
           SELECT a.vec_id, $dot AS dot, a.n2 AS an2, b.n2 AS bn2
           FROM ab a JOIN bb b ON a.band = b.band AND a.bval = b.bval)
         WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000
           >= 2500 * CAST(an2 AS HUGEINT) * bn2)
       SELECT CAST(label AS BIGINT) AS label,
         CAST(COUNT(1) AS BIGINT) AS n_kept,
         CAST(SUM(vec_id) AS BIGINT) AS sum_ids
       FROM embeddings WHERE vec_id >= 32
         AND vec_id NOT IN (SELECT vec_id FROM hits)
       GROUP BY 1"""
  }

  /** q130: recall@5 of the nProbe=2 IVF-PQ probe against the exact
    * integer-L2 top-5 — the q127 replay joined with a brute-force CTE;
    * per-probe hit counts, probes with no hits preserved at 0. */
  private def q130OracleSql: String =
    s"""WITH $q127OracleBody,
       |ax AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM adc) WHERE rn <= 5),
       |exd AS (SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(p.xu, v.xu),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
       |  FROM p, xu v WHERE v.vec_id <> p.vec_id),
       |ex AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM exd) WHERE rn <= 5),
       |hits AS (SELECT probe_id, COUNT(1) AS n_hits
       |  FROM ax JOIN ex USING (probe_id, neighbor_id) GROUP BY 1)
       |SELECT e.probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(5 AS BIGINT) AS k
       |FROM (SELECT DISTINCT probe_id FROM ex) e
       |LEFT JOIN hits h ON e.probe_id = h.probe_id""".stripMargin

  /** q132: the nProbe tuning sweep — ONE candidate set built at
    * nProbe=4 (each candidate tagged with its list's probe rank), then
    * four filtered rankings (prank <= n) joined against the exact
    * integer-L2 top-5 — recall@5 as a function of nProbe. */
  private def q132OracleSql: String = {
    val sweeps = (1 to 4).map { n =>
      s"""ax$n AS (SELECT probe_id, neighbor_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY dist, neighbor_id) AS rn FROM adc WHERE prank <= $n)
         |  WHERE rn <= 5),
         |h$n AS (SELECT $n AS n_probe, COUNT(1) AS n_hits
         |  FROM ax$n JOIN ex USING (probe_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val union = (1 to 4).map(n => s"SELECT * FROM h$n").mkString(" UNION ALL ")
    s"""WITH ${sweepCtes(sweeps)}
       |SELECT CAST(n_probe AS BIGINT) AS n_probe,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(20 AS BIGINT) AS n_possible
       |FROM ($union)""".stripMargin
  }

  /** q134: recall-targeted auto-tuning replay — the q132 sweep plus the
    * pick rule: smallest nProbe meeting the 80% target, else the
    * full-probe (nLists) row with its achieved hits. */
  private def q134OracleSql: String = {
    val sweeps = (1 to 4).map { n =>
      s"""ax$n AS (SELECT probe_id, neighbor_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY dist, neighbor_id) AS rn FROM adc WHERE prank <= $n)
         |  WHERE rn <= 5),
         |h$n AS (SELECT $n AS n_probe, COUNT(1) AS n_hits
         |  FROM ax$n JOIN ex USING (probe_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val union = (1 to 4).map(n => s"SELECT * FROM h$n").mkString(" UNION ALL ")
    s"""WITH ${sweepCtes(sweeps)},
       |allu AS ($union),
       |sel AS (SELECT * FROM allu
       |  WHERE n_hits * 100 >= 80 * 20 ORDER BY n_probe LIMIT 1)
       |SELECT CAST(n_probe AS BIGINT) AS n_probe,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(20 AS BIGINT) AS n_possible
       |FROM (SELECT * FROM sel
       |  UNION ALL SELECT * FROM allu
       |  WHERE n_probe = 4 AND NOT EXISTS (SELECT 1 FROM sel))""".stripMargin
  }

  /** The shared q132/q134 sweep scaffold: the nProbe=4 IVF-PQ body, the
    * exact integer-L2 top-5 ground truth, and the per-nProbe hit CTEs. */
  private def sweepCtes(sweeps: String): String =
    s"""${q127OracleBodyAt(4)},
       |exd AS (SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(p.xu, v.xu),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
       |  FROM p, xu v WHERE v.vec_id <> p.vec_id),
       |ex AS MATERIALIZED (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM exd) WHERE rn <= 5),
       |$sweeps""".stripMargin

  /** The q127 IVF-PQ replay through the `adc` CTE (plus `p`/`xu` for
    * ground-truth reuse) — shared by q127/q128/q130/q132. */
  private def q127OracleBody: String = q127OracleBodyAt(2)

  private def q127OracleBodyAt(nProbe: Int): String =
    ivfPqOracleBody(nListsSql = "4", nProbeSql = nProbe.toString,
      m = 4, kCodes = 8, iters = 2, dim = 64, scale = 1000000L,
      probeWhere = "vec_id < 4")

  /** The fully parameterized IVF-PQ replay generator behind
    * [[q127OracleBodyAt]] (demo config) and q138 (production config):
    * `nListsSql` / `nProbeSql` are SQL scalar expressions (literals for
    * the demo oracles; `floor(sqrt(count))`-style subqueries for the
    * production build, so the oracle derives the list count from the
    * data exactly as the Spark side does). */
  private def ivfPqOracleBody(nListsSql: String, nProbeSql: String,
                              m: Int, kCodes: Int, iters: Int, dim: Int,
                              scale: Long, probeWhere: String,
                              trainWhere: String = "TRUE",
                              corpusSql: String = "embeddings"): String = {
    val (k, subDim) = (kCodes, dim / m)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    // xt = the TRAIN slice: seeds and every Lloyd's update read xt only;
    // assignment/encode (asg, rd, penc) stay over the full xu — exactly
    // Spark's ivfPqBuild(trainOn = ...) split, and the default TRUE
    // collapses xt == xu (the corpus-trained oracles are unchanged).
    // corpusSql may be any (vec_id, embedding) table expression — q162
    // passes a UNION of the fixture with its drifted copies.
    val head =
      s"""xu AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(trunc(x::DOUBLE * $scale) AS BIGINT)) AS xu
         |  FROM $corpusSql WHERE embedding IS NOT NULL),
         |xt AS MATERIALIZED (SELECT * FROM xu WHERE $trainWhere),
         |d64 AS (SELECT unnest(range($dim)) AS d),
         |nlv AS (SELECT CAST(($nListsSql) AS INT) AS nl),
         |npv AS (SELECT CAST(($nProbeSql) AS INT) AS np),
         |gseeds AS (SELECT j, xu FROM (SELECT row_number() OVER
         |    (ORDER BY vec_id) - 1 AS j, xu FROM xt)
         |  WHERE j < (SELECT nl FROM nlv)),
         |gc0 AS (SELECT CAST(sd.j AS INT) AS j, d64.d AS d,
         |  sd.xu[d64.d + 1] AS c FROM gseeds sd, d64)""".stripMargin
    val coarseChain = (1 to iters).map { i =>
      val p = i - 1
      s"""ga$i AS (SELECT v.vec_id, c.j,
         |    SUM((v.xu[c.d + 1] - c.c) * (v.xu[c.d + 1] - c.c)) AS dist
         |  FROM xt v, gc$p c GROUP BY 1, 2),
         |gb$i AS (SELECT vec_id, j AS cl FROM (SELECT vec_id, j,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
         |  FROM ga$i) WHERE rn = 1),
         |gs$i AS (SELECT b.cl, d64.d,
         |    CAST(SUM(v.xu[d64.d + 1]) AS BIGINT) AS s, COUNT(1) AS n
         |  FROM xt v JOIN gb$i b ON v.vec_id = b.vec_id, d64 GROUP BY 1, 2),
         |gc$i AS MATERIALIZED (SELECT cl AS j, d,
         |    CAST(trunc(CAST(s AS DOUBLE) / n) AS BIGINT) AS c FROM gs$i
         |  UNION ALL SELECT j, d, c FROM gc$p
         |    WHERE j NOT IN (SELECT DISTINCT cl FROM gb$i))""".stripMargin
    }.mkString(",\n")
    val resid =
      s"""ad AS (SELECT v.vec_id, c.j,
         |    SUM((v.xu[c.d + 1] - c.c) * (v.xu[c.d + 1] - c.c)) AS dist
         |  FROM xu v, gc$iters c GROUP BY 1, 2),
         |asg AS MATERIALIZED (SELECT vec_id, j AS lst FROM (SELECT vec_id, j,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
         |  FROM ad) WHERE rn = 1),
         |rd AS MATERIALIZED (SELECT v.vec_id, a.lst, c.d, v.xu[c.d + 1] - c.c AS ru
         |  FROM xu v JOIN asg a ON v.vec_id = a.vec_id
         |  JOIN gc$iters c ON c.j = a.lst),
         |rdt AS MATERIALIZED (SELECT r.* FROM rd r
         |  WHERE r.vec_id IN (SELECT vec_id FROM xt)),
         |pseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
         |  FROM (SELECT DISTINCT vec_id FROM rdt ORDER BY vec_id LIMIT $k))""".stripMargin
    val pqChains = (0 until m).map { s =>
      val off = s * subDim
      val init =
        s"""p${s}c0 AS (SELECT CAST(ps.j AS INT) AS j, rdt.d - $off AS d,
           |  rdt.ru AS c FROM pseeds ps JOIN rdt ON rdt.vec_id = ps.vec_id
           |  WHERE rdt.d >= $off AND rdt.d < ${off + subDim})""".stripMargin
      val iterCtes = (1 to iters).map { i =>
        val p = i - 1
        s"""p${s}a$i AS (SELECT r.vec_id, c.j,
           |    SUM((r.ru - c.c) * (r.ru - c.c)) AS dist
           |  FROM rdt r JOIN p${s}c$p c ON c.d = r.d - $off
           |  WHERE r.d >= $off AND r.d < ${off + subDim} GROUP BY 1, 2),
           |p${s}b$i AS (SELECT vec_id, j AS cl FROM (SELECT vec_id, j,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
           |  FROM p${s}a$i) WHERE rn = 1),
           |p${s}s$i AS (SELECT b.cl, r.d - $off AS d,
           |    CAST(SUM(r.ru) AS BIGINT) AS s, COUNT(1) AS n
           |  FROM rdt r JOIN p${s}b$i b ON r.vec_id = b.vec_id
           |  WHERE r.d >= $off AND r.d < ${off + subDim} GROUP BY 1, 2),
           |p${s}c$i AS MATERIALIZED (SELECT cl AS j, d,
           |    CAST(trunc(CAST(s AS DOUBLE) / n) AS BIGINT) AS c FROM p${s}s$i
           |  UNION ALL SELECT j, d, c FROM p${s}c$p
           |    WHERE j NOT IN (SELECT DISTINCT cl FROM p${s}b$i))""".stripMargin
      }.mkString(",\n")
      s"$init,\n$iterCtes"
    }.mkString(",\n")
    val pcfin = (0 until m).map(s =>
      s"SELECT $s AS s, j, d, c FROM p${s}c$iters").mkString(" UNION ALL ")
    s"""$head,
       |$coarseChain,
       |$resid,
       |$pqChains,
       |pcfin AS MATERIALIZED ($pcfin),
       |ped AS (SELECT r.vec_id, c.s, c.j,
       |    SUM((r.ru - c.c) * (r.ru - c.c)) AS dist
       |  FROM rd r JOIN pcfin c ON r.d = c.s * $subDim + c.d
       |  GROUP BY 1, 2, 3),
       |penc AS MATERIALIZED (SELECT vec_id, s, j AS code FROM (SELECT vec_id, s, j,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
       |  FROM ped) WHERE rn = 1),
       |p AS (SELECT vec_id, xu FROM xu WHERE $probeWhere),
       |pcd AS (SELECT p.vec_id AS probe_id, c.j,
       |    SUM((p.xu[c.d + 1] - c.c) * (p.xu[c.d + 1] - c.c)) AS dist
       |  FROM p, gc$iters c GROUP BY 1, 2),
       |pl AS MATERIALIZED (SELECT probe_id, j AS lst, rn AS prank
       |  FROM (SELECT probe_id, j,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY dist, j) AS rn
       |  FROM pcd) WHERE rn <= (SELECT np FROM npv)),
       |prd AS MATERIALIZED (SELECT p.vec_id AS probe_id, pl.lst, pl.prank,
       |    c.d, p.xu[c.d + 1] - c.c AS pru
       |  FROM p JOIN pl ON pl.probe_id = p.vec_id
       |  JOIN gc$iters c ON c.j = pl.lst),
       |adc AS MATERIALIZED (SELECT prd.probe_id, e.vec_id AS neighbor_id,
       |    MIN(prd.prank) AS prank,
       |    SUM((prd.pru - c.c) * (prd.pru - c.c)) AS dist
       |  FROM prd
       |  JOIN asg a ON a.lst = prd.lst
       |  JOIN penc e ON e.vec_id = a.vec_id
       |  JOIN pcfin c ON c.s = e.s AND c.j = e.code
       |    AND prd.d = c.s * $subDim + c.d
       |  WHERE e.vec_id <> prd.probe_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** q138: the production-size IVF-PQ replay — same generator as q127
    * but at kCodes=256 / m=8 / nLists=floor(sqrt(n)) (derived from the
    * data INSIDE the SQL, mirroring the Spark side's count-based
    * sizing), nProbe=max(1, nLists/4), followed by the refine tail:
    * ADC shortlist of 100, exact integer-L2 re-rank, recall@10 per
    * probe against the exact ground truth. */
  private def q138OracleSql: String = {
    val body = ivfPqOracleBody(
      nListsSql = "SELECT CAST(floor(sqrt(COUNT(*))) AS INT) FROM xu",
      nProbeSql = "SELECT greatest(1, nl // 4) FROM nlv",
      m = 8, kCodes = 256, iters = 2, dim = 64, scale = 1000000L,
      probeWhere = "vec_id < 16")
    s"""WITH $body,
       |cand AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM adc) WHERE rn <= 100),
       |rrk AS (SELECT c.probe_id, c.neighbor_id,
       |    list_sum(list_transform(list_zip(p.xu, v.xu),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
       |  FROM cand c JOIN p ON p.vec_id = c.probe_id
       |  JOIN xu v ON v.vec_id = c.neighbor_id),
       |ax AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM rrk) WHERE rn <= 10),
       |exd AS (SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(p.xu, v.xu),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
       |  FROM p, xu v WHERE v.vec_id <> p.vec_id),
       |ex AS (SELECT probe_id, neighbor_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY dist, neighbor_id) AS rn FROM exd) WHERE rn <= 10),
       |hits AS (SELECT probe_id, COUNT(1) AS n_hits
       |  FROM ax JOIN ex USING (probe_id, neighbor_id) GROUP BY 1)
       |SELECT e.probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(10 AS BIGINT) AS k
       |FROM (SELECT DISTINCT probe_id FROM ex) e
       |LEFT JOIN hits h ON e.probe_id = h.probe_id""".stripMargin
  }

  /** Mirrors of Multimodal.AudioFixture — q107/q108 run the REAL
    * javax.sound codec; the oracle replays the PCM sample arithmetic
    * (WAV PCM16 is lossless). In lockstep with AudioFixture.{nSamples,
    * sample} and AudioCodec.decimate. */
  private def audioSample(i: String): String =
    s"((doc_id*31 + ($i)*17) % 2003) - 1001"

  private def q107OracleSql: String =
    s"""WITH g AS (SELECT doc_id, 256 + doc_id % 128 AS n FROM documents),
       |sm AS (SELECT doc_id, g.n, i.i AS i,
       |    ${audioSample("i.i")} AS s,
       |    CASE WHEN i.i > 0 THEN ${audioSample("i.i - 1")} END AS p
       |  FROM g, (SELECT UNNEST(range(384)) AS i) i
       |  WHERE i.i < g.n)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       |  CAST(8000 AS BIGINT) AS sample_rate,
       |  CAST(SUM(s) AS BIGINT) AS sum_s,
       |  CAST(SUM(s*s) AS BIGINT) AS sumsq_s,
       |  CAST(SUM(CASE WHEN p IS NOT NULL AND
       |    ((p < 0 AND s >= 0) OR (p >= 0 AND s < 0)) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS zero_cross
       |FROM sm GROUP BY doc_id, n""".stripMargin

  private def q108OracleSql: String =
    s"""WITH g AS (SELECT doc_id, 256 + doc_id % 128 AS n,
       |    (256 + doc_id % 128 + 2) // 3 AS m FROM documents),
       |sm AS (SELECT doc_id, g.m, j.j AS j,
       |    ${audioSample("3*j.j")} AS s,
       |    CASE WHEN j.j > 0 THEN ${audioSample("3*(j.j - 1)")} END AS p
       |  FROM g, (SELECT UNNEST(range(128)) AS j) j
       |  WHERE j.j < g.m)
       |SELECT doc_id, CAST(m AS BIGINT) AS n_samples,
       |  CAST(2666 AS BIGINT) AS sample_rate,
       |  CAST(SUM(s) AS BIGINT) AS sum_s,
       |  CAST(SUM(CASE WHEN p IS NOT NULL AND
       |    ((p < 0 AND s >= 0) OR (p >= 0 AND s < 0)) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS zero_cross
       |FROM sm GROUP BY doc_id, m""".stripMargin

  // ---- portable-hash oracle generators (q25/q26/q27/q37) -------------------
  // The Spark side runs Dedup.Portable: base hash = decimal of the first 15
  // md5 hex chars (TextFunctions.portableHash64), seed mix = h*a+b with
  // 64-bit two's-complement wrap. Both are reproducible in DuckDB SQL, so
  // the sketches are verified bit-for-bit, not just shape-checked.

  /** DuckDB mirror of TextFunctions.portableHash64 over expression `e`. */
  private def duckHash(e: String): String =
    s"CAST(concat('0x', substring(md5($e), 1, 15)) AS BIGINT)"

  /** `h * a + b` with Java-long wrap, in HUGEINT mod-2^64 arithmetic,
    * re-interpreted as signed BIGINT (mirror of SeededMinArrayExpr's mix). */
  private def duckMix(h: String, a: Long, b: Long): String = {
    val two64 = "18446744073709551616::HUGEINT"
    val m = s"((($h)::HUGEINT * ($a)::HUGEINT + ($b)::HUGEINT) % $two64 + $two64) % $two64"
    s"CAST(CASE WHEN $m >= 9223372036854775808::HUGEINT THEN $m - $two64 ELSE $m END AS BIGINT)"
  }

  /** Mirror of TextFunctions.tokens(normalized(text)). */
  private val duckToks: String =
    "list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), x -> x <> '')"

  /** Mirror of TextFunctions.shingles over a token-list expression. */
  private def duckShingles(t: String, n: Int): String =
    if (n == 1) s"CASE WHEN len($t) < 1 THEN [''] ELSE $t END"
    else s"CASE WHEN len($t) < $n THEN [array_to_string($t, ' ')] " +
      s"ELSE list_transform(range(0, len($t) - ${n - 1}), " +
      s"i -> array_to_string($t[i+1:i+$n], ' ')) END"

  private def q25OracleSql: String = {
    val mix = Dedup.mixConstants(16)
    def minJ(j: Int): String = {
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }
    s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
       |sh AS (SELECT doc_id, ${duckShingles("t", 3)} AS s FROM toks),
       |h AS (SELECT doc_id, list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh)
       |SELECT doc_id, ${minJ(0)} AS h0, ${minJ(1)} AS h1, ${minJ(15)} AS h15
       |FROM h""".stripMargin
  }

  /** Shared simhash CTE chain (q27/q37): Portable 60-bit per-bit majority
    * vote, mirror of Dedup.simhash(mode = Portable). */
  private def duckSimhashCtes: String = {
    val sums = (0 until 60).map(i =>
      s"SUM(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val asm = (0 until 60).map(i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
       |h AS (SELECT doc_id, ${duckHash("tok")} AS th FROM toks),
       |v AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($asm AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  private def q27OracleSql: String =
    s"WITH $duckSimhashCtes SELECT doc_id, simhash FROM sim"

  private def q37OracleSql: String =
    s"""WITH $duckSimhashCtes,
       |seg AS (SELECT doc_id AS id, simhash, b.seg,
       |    (simhash >> (b.seg * 15)) & 32767 AS segval
       |  FROM sim, (SELECT unnest(range(4)) AS seg) b),
       |capped AS (SELECT * FROM seg
       |  QUALIFY row_number() OVER (PARTITION BY seg, segval ORDER BY id) <= 1024),
       |pairs AS (SELECT DISTINCT x.id AS a, y.id AS b,
       |    bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM capped x JOIN capped y
       |    ON x.seg = y.seg AND x.segval = y.segval AND x.id < y.id)
       |SELECT CAST(hamming AS BIGINT) AS hamming, COUNT(1) AS n_pairs
       |FROM pairs WHERE hamming <= 3 GROUP BY 1""".stripMargin

  /** The q26 MinHash-pair pipeline as a reusable CTE chain (ends in
    * `pairs(a, b, est)`), shared with the q48 clustering oracle, and —
    * at threshold 0.7, where the word-salad corpus stops collapsing into
    * one transitive cluster — with the q124 keep-best oracle. */
  private def q26PairCtes: String = q26PairCtesAt(0.3)

  private def q26PairCtesAt(threshold: Double): String = {
    val mix = Dedup.mixConstants(32)
    val sigList = (0 until 32).map { j =>
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }.mkString("[", ", ", "]")
    s"""docs AS (SELECT doc_id AS id, text FROM documents
       |  WHERE doc_id % 10 = 0 AND text IS NOT NULL),
       |norm AS (SELECT id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm FROM docs),
       |base AS (SELECT id, nrm, MIN(id) OVER (PARTITION BY md5(nrm)) AS rep FROM norm),
       |exact_pairs AS (SELECT rep AS a, id AS b, 1.0 AS est FROM base WHERE id <> rep),
       |reps AS (SELECT id, nrm FROM base WHERE id = rep),
       |toks AS (SELECT id, list_filter(string_split(nrm, ' '), x -> x <> '') AS t FROM reps),
       |sh AS (SELECT id, ${duckShingles("t", 1)} AS s FROM toks),
       |hs AS (SELECT id, list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh),
       |sig AS (SELECT id, $sigList AS sig FROM hs),
       |banded AS (SELECT id, sig, b.band,
       |    md5(array_to_string(list_transform(sig[b.band*4+1 : b.band*4+4],
       |      v -> CAST(v AS VARCHAR)), ',')) AS bkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b),
       |capped AS (SELECT * FROM banded
       |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY id) <= 256),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM capped x JOIN capped y
       |  ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id),
       |est0 AS (SELECT c.a, c.b,
       |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est
       |  FROM cand c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b),
       |pairs AS (SELECT a, b, est FROM est0 WHERE est >= $threshold
       |  UNION ALL SELECT a, b, est FROM exact_pairs)""".stripMargin
  }

  private def q26OracleSql: String =
    s"""WITH $q26PairCtes
       |SELECT CAST(FLOOR(est * 10) AS BIGINT) AS jac_bucket, COUNT(1) AS n_pairs
       |FROM pairs GROUP BY 1""".stripMargin

  /** Mirror of Dedup.minhashPairs(maxBucket = 4, hotBucketRep = true):
    * q26's chain with the cap forced low, plus the hot-bucket
    * representative-verify path — beyond-cap members pair with their
    * bucket's rn=1 (min-id) rep; UNION dedups pairs surfacing on both
    * paths; the signature-agreement estimate and threshold are shared. */
  private def q177PairCtes: String = {
    val mix = Dedup.mixConstants(32)
    val sigList = (0 until 32).map { j =>
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }.mkString("[", ", ", "]")
    s"""docs AS (SELECT doc_id AS id, text FROM documents
       |  WHERE doc_id % 10 = 0 AND text IS NOT NULL),
       |norm AS (SELECT id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm FROM docs),
       |base AS (SELECT id, nrm, MIN(id) OVER (PARTITION BY md5(nrm)) AS rep FROM norm),
       |exact_pairs AS (SELECT rep AS a, id AS b, 1.0 AS est FROM base WHERE id <> rep),
       |reps AS (SELECT id, nrm FROM base WHERE id = rep),
       |toks AS (SELECT id, list_filter(string_split(nrm, ' '), x -> x <> '') AS t FROM reps),
       |sh AS (SELECT id, ${duckShingles("t", 1)} AS s FROM toks),
       |hs AS (SELECT id, list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh),
       |sig AS (SELECT id, $sigList AS sig FROM hs),
       |banded AS (SELECT id, sig, b.band,
       |    md5(array_to_string(list_transform(sig[b.band*4+1 : b.band*4+4],
       |      v -> CAST(v AS VARCHAR)), ',')) AS bkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b),
       |ranked AS (SELECT id, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY id) AS rn
       |  FROM banded),
       |cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM ranked x JOIN ranked y
       |  ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
       |  WHERE x.rn <= 4 AND y.rn <= 4),
       |hot AS (SELECT DISTINCT r.id AS a, o.id AS b FROM ranked o JOIN ranked r
       |  ON o.band = r.band AND o.bkey = r.bkey AND r.rn = 1
       |  WHERE o.rn > 4),
       |allc AS (SELECT a, b FROM cand UNION SELECT a, b FROM hot),
       |est0 AS (SELECT c.a, c.b,
       |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est
       |  FROM allc c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b),
       |pairs AS (SELECT a, b, est FROM est0 WHERE est >= 0.3
       |  UNION ALL SELECT a, b, est FROM exact_pairs)""".stripMargin
  }

  private def q177OracleSql: String =
    s"""WITH $q177PairCtes
       |SELECT CAST(FLOOR(est * 10) AS BIGINT) AS jac_bucket, COUNT(1) AS n_pairs
       |FROM pairs GROUP BY 1""".stripMargin

  /** q178: q48's recursive-CTE transitive closure over q177's
    * hot-bucket pair graph — the composition that proves a dense
    * (beyond-cap) class stays ONE cluster when the star around each
    * bucket's representative feeds connected components. */
  private def q178OracleSql: String =
    s"""WITH RECURSIVE $q177PairCtes,
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
       |SELECT cluster, COUNT(1) AS n_members
       |FROM (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
       |GROUP BY 1""".stripMargin

  /** Transitive closure of the pair graph via a recursive CTE: cluster =
    * min reachable id, mirroring Dedup.clusters' label propagation. */
  private def q48OracleSql: String =
    s"""WITH RECURSIVE $q26PairCtes,
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
       |SELECT cluster, COUNT(1) AS n_members
       |FROM (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
       |GROUP BY 1""".stripMargin

  /** Mirror of Dedup.nearIncremental (Portable): batch = even ids, prior
    * = ids 5 mod 20; banded candidates + signature agreement >= 0.8. */
  private def q88OracleSql: String = {
    val mix = Dedup.mixConstants(32)
    val sigList = (0 until 32).map { j =>
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }.mkString("[", ", ", "]")
    def bkey(s: String) = "md5(array_to_string(list_transform(" +
      s"$s[b.band*4+1 : b.band*4+4], v -> CAST(v AS VARCHAR)), ','))"
    s"""WITH base AS (SELECT doc_id, text,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
       |  FROM documents WHERE text IS NOT NULL),
       |toks AS (SELECT doc_id,
       |    list_filter(string_split(nrm, ' '), x -> x <> '') AS t FROM base),
       |sh AS (SELECT doc_id, ${duckShingles("t", 3)} AS s FROM toks),
       |hs AS (SELECT doc_id, list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh),
       |sig AS (SELECT doc_id, $sigList AS sig FROM hs),
       |banded AS (SELECT doc_id, sig, b.band, ${bkey("sig")} AS bkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b
       |  WHERE doc_id % 2 = 0),
       |rbanded AS (SELECT sig AS rsig, b.band, ${bkey("sig")} AS rbkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b
       |  WHERE doc_id % 20 = 5),
       |near AS (SELECT DISTINCT c.doc_id
       |  FROM banded c JOIN rbanded r ON c.band = r.band AND c.bkey = r.rbkey
       |  WHERE CAST(list_sum(list_transform(list_zip(c.sig, r.rsig),
       |    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 >= 0.8)
       |SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM documents
       |WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM near)
       |GROUP BY source""".stripMargin
  }

  private def q47OracleSql: String = {
    val mix = Dedup.mixConstants(32)
    val sigList = (0 until 32).map { j =>
      val (a, b) = mix(j)
      s"list_min(list_transform(hs, h -> ${duckMix("h", a, b)}))"
    }.mkString("[", ", ", "]")
    val bkey = "md5(array_to_string(list_transform(" +
      "sig[b.band*4+1 : b.band*4+4], v -> CAST(v AS VARCHAR)), ','))"
    s"""WITH base AS (SELECT doc_id, text,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
       |  FROM documents WHERE text IS NOT NULL),
       |toks AS (SELECT doc_id, md5(nrm) AS fp,
       |    list_filter(string_split(nrm, ' '), x -> x <> '') AS t FROM base),
       |sh AS (SELECT doc_id, fp, ${duckShingles("t", 3)} AS s FROM toks),
       |hs AS (SELECT doc_id, fp, list_transform(s, x -> ${duckHash("x")}) AS hs FROM sh),
       |sig AS (SELECT doc_id, fp, $sigList AS sig FROM hs),
       |ref AS (SELECT * FROM sig WHERE doc_id % 20 = 0),
       |banded AS (SELECT doc_id, sig, b.band, $bkey AS bkey
       |  FROM sig, (SELECT unnest(range(8)) AS band) b),
       |rbanded AS (SELECT r.doc_id AS rid, r.rsig, b.band,
       |    md5(array_to_string(list_transform(
       |      r.rsig[b.band*4+1 : b.band*4+4], v -> CAST(v AS VARCHAR)), ',')) AS rbkey
       |  FROM (SELECT doc_id, sig AS rsig FROM ref) r,
       |    (SELECT unnest(range(8)) AS band) b),
       |near AS (SELECT DISTINCT c.doc_id
       |  FROM banded c JOIN rbanded r ON c.band = r.band AND c.bkey = r.rbkey
       |  WHERE CAST(list_sum(list_transform(list_zip(c.sig, r.rsig),
       |    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 >= 0.8),
       |exact AS (SELECT DISTINCT s.doc_id FROM sig s
       |  WHERE s.fp IN (SELECT fp FROM ref)),
       |flags AS (SELECT d.doc_id,
       |    d.doc_id IN (SELECT doc_id FROM exact) AS exact_contaminated,
       |    d.doc_id IN (SELECT doc_id FROM near) AS near_contaminated
       |  FROM documents d)
       |SELECT exact_contaminated, near_contaminated, COUNT(1) AS n
       |FROM flags GROUP BY 1, 2""".stripMargin
  }

  /** Mirrors of Multimodal.ImageFixture — the multimodal queries run the
    * REAL javax.imageio codec (PNG encode -> decode -> pixel stats); the
    * oracle replays the fixture's (id, x, y) arithmetic directly. PNG is
    * lossless, so decoded raster == generated raster and the sums must
    * agree exactly; a decoder bug breaks the hash match. Constants are in
    * lockstep with ImageFixture.{width,height,r,g,b}. */
  private def imgChan(idMult: Int, fMult: Int, xMult: Int, yMult: Int,
                      x: String, y: String, f: String): String =
    s"(doc_id*$idMult + ($f)*$fMult + ($x)*$xMult + ($y)*$yMult) % 256"
  private def imgR(x: String, y: String, f: String = "0"): String =
    imgChan(31, 101, 7, 13, x, y, f)
  private def imgG(x: String, y: String, f: String = "0"): String =
    imgChan(17, 59, 3, 5, x, y, f)
  private def imgB(x: String, y: String, f: String = "0"): String =
    imgChan(13, 29, 11, 23, x, y, f)

  private def q34OracleSql: String =
    s"""WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
       |  FROM documents),
       |px AS (SELECT doc_id,
       |    ${imgR("x.x", "y.y")} AS pr, ${imgG("x.x", "y.y")} AS pg,
       |    ${imgB("x.x", "y.y")} AS pb
       |  FROM g, (SELECT UNNEST(range(16)) AS x) x,
       |    (SELECT UNNEST(range(14)) AS y) y
       |  WHERE x.x < g.w AND y.y < g.h)
       |SELECT doc_id,
       |  CAST(SUM(pr) AS BIGINT) AS sum_r, CAST(SUM(pg) AS BIGINT) AS sum_g,
       |  CAST(SUM(pb) AS BIGINT) AS sum_b,
       |  CAST(SUM(pr*pr) AS BIGINT) AS sumsq_r,
       |  CAST(SUM(pg*pg) AS BIGINT) AS sumsq_g,
       |  CAST(SUM(pb*pb) AS BIGINT) AS sumsq_b
       |FROM px GROUP BY doc_id""".stripMargin

  private def q39OracleSql: String =
    s"""WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
       |  FROM documents),
       |px AS (SELECT doc_id, f.f AS f, g.w, g.h,
       |    ${imgR("x.x", "y.y", "f.f")} AS pr,
       |    ${imgG("x.x", "y.y", "f.f")} AS pg,
       |    ${imgB("x.x", "y.y", "f.f")} AS pb
       |  FROM g, (SELECT UNNEST(range(4)) AS f) f,
       |    (SELECT UNNEST(range(16)) AS x) x,
       |    (SELECT UNNEST(range(14)) AS y) y
       |  WHERE x.x < g.w AND y.y < g.h)
       |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, CAST(w AS BIGINT) AS width,
       |  CAST(h AS BIGINT) AS height,
       |  CAST(SUM(pr) AS BIGINT) AS sum_r, CAST(SUM(pg) AS BIGINT) AS sum_g,
       |  CAST(SUM(pb) AS BIGINT) AS sum_b
       |FROM px GROUP BY doc_id, f, w, h""".stripMargin

  /** 2x2 block-average resize replay: output pixel = floor(mean of the four
    * source pixels), integer arithmetic — identical to ImageCodec.blockResize. */
  private def q102OracleSql: String = {
    def avg4(p: (String, String, String) => String): String =
      s"(${p("2*ox.ox", "2*oy.oy", "0")} + ${p("2*ox.ox+1", "2*oy.oy", "0")} + " +
        s"${p("2*ox.ox", "2*oy.oy+1", "0")} + ${p("2*ox.ox+1", "2*oy.oy+1", "0")}) // 4"
    s"""WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
       |  FROM documents),
       |px AS (SELECT doc_id, g.w // 2 AS ow, g.h // 2 AS oh,
       |    ${avg4(imgR)} AS pr, ${avg4(imgG)} AS pg, ${avg4(imgB)} AS pb
       |  FROM g, (SELECT UNNEST(range(8)) AS ox) ox,
       |    (SELECT UNNEST(range(7)) AS oy) oy
       |  WHERE ox.ox < g.w // 2 AND oy.oy < g.h // 2)
       |SELECT doc_id, CAST(ow AS BIGINT) AS width, CAST(oh AS BIGINT) AS height,
       |  CAST(SUM(pr) AS BIGINT) AS sum_r, CAST(SUM(pg) AS BIGINT) AS sum_g,
       |  CAST(SUM(pb) AS BIGINT) AS sum_b
       |FROM px GROUP BY doc_id, ow, oh""".stripMargin
  }

  private def q42OracleSql: String = {
    val two60 = 1L << 60
    def thr(r: Double): Long = math.round(r * two60)
    s"""SELECT source, COUNT(1) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM documents
       |WHERE ${duckHash("'graft:' || CAST(doc_id AS VARCHAR)")} <
       |  CASE source WHEN 'src0' THEN ${thr(1.0)} WHEN 'src1' THEN ${thr(0.1)}
       |    ELSE ${thr(0.5)} END
       |GROUP BY source""".stripMargin
  }

  private def q73OracleSql: String = {
    val two60 = 1L << 60
    def thr(c: Double): Long = math.round(c * two60)
    s"""WITH lab AS (SELECT doc_id,
       |    CASE WHEN ${duckHash("'graft:' || CAST(doc_id AS VARCHAR)")}
       |        < ${thr(0.8)} THEN 'train'
       |      WHEN ${duckHash("'graft:' || CAST(doc_id AS VARCHAR)")}
       |        < ${thr(0.9)} THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM documents)
       |SELECT split, CAST(COUNT(1) AS BIGINT) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM lab GROUP BY split""".stripMargin
  }

  private def q43OracleSql: String = {
    // language scores + guess: identical structure to the q22 oracle
    val markers = Seq(
      "en" -> "('the','a','of','and','to','in','is')",
      "es" -> "('el','la','de','que','y','en','los')",
      "de" -> "('der','die','und','das','ist','von','mit')",
      "fr" -> "('le','la','de','et','les','des','un')",
      "zh" -> "('的','是','在','了','和','有','我')")
    val scoreCols = markers.map { case (l, set) =>
      s"len(list_filter(tk, x -> x IN $set)) AS s_$l" }.mkString(", ")
    val best = markers.map(m => s"s_${m._1}").mkString("greatest(", ",", ")")
    val guess = markers.map { case (l, _) =>
      s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'" }.mkString(" ")
    s"""WITH toks AS (SELECT doc_id, source, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS tk
       |  FROM documents),
       |rep AS (SELECT *, MIN(doc_id) OVER (PARTITION BY
       |    coalesce(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
       |      '__null__' || CAST(doc_id AS VARCHAR))) AS rep_id
       |  FROM toks),
       |scored AS (SELECT doc_id, source, text, tk, rep_id, $scoreCols FROM rep),
       |audit AS (SELECT source,
       |    CASE WHEN text IS NULL THEN 'null_text'
       |      WHEN doc_id <> rep_id THEN 'exact_dup'
       |      WHEN (CASE $guess ELSE 'und' END) NOT IN ('en','es') THEN 'lang'
       |      WHEN ROUND(
       |        LEAST(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |        (CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END) * 0.4 +
       |        LEAST((CASE WHEN len(tk) = 0 THEN 0.0
       |          ELSE CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(tk) END) * 5.0, 1.0) * 0.2,
       |      4) < 0.3 THEN 'quality'
       |      ELSE 'kept' END AS reason
       |  FROM scored)
       |SELECT source, reason, COUNT(1) AS n FROM audit GROUP BY 1, 2""".stripMargin
  }

  /** CDC chunk-overlap oracle (q40). Boundary recovery without recursion:
    * (h & 63) of the rolling hash h = (h<<1)+byte depends only on the
    * trailing 6 bytes (higher shifts vanish mod 64), so candidate
    * boundaries are a positional window expression; the sequential
    * min-chunk rule is a greedy list_reduce over the (sparse) candidates —
    * exact because minChunk (16) > the 6-byte hash memory, so a reset
    * never changes a later candidate's window value. Chunk fingerprints
    * are md5 over the chunk's UPPERCASE hex (CdcChunksPortable). */
  private def q40OracleSql: String = {
    val win = "(bytes[i+1] + bytes[i]*2 + bytes[i-1]*4 + bytes[i-2]*8 " +
      "+ bytes[i-3]*16 + bytes[i-4]*32) % 64 = 0"
    def chunkFp(startExpr: String, lenExpr: String): String =
      "CAST(concat('0x', substring(md5(substring(hxs, " +
        s"CAST(2*($startExpr)+1 AS INT), CAST(2*($lenExpr) AS INT))), " +
        "1, 15)) AS BIGINT)"
    s"""WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
       |corpus AS (SELECT doc_id, text FROM d0
       |  UNION ALL SELECT -doc_id - 1 AS doc_id, substring(text, 1, 512) FROM d0),
       |rep AS (SELECT doc_id AS id, text,
       |    MIN(doc_id) OVER (PARTITION BY
       |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS rep_id
       |  FROM corpus WHERE text IS NOT NULL),
       |exact_pairs AS (SELECT rep_id AS a, id AS b, 1.0 AS overlap
       |  FROM rep WHERE id <> rep_id),
       |reps AS (SELECT id, text FROM rep WHERE id = rep_id),
       |hx AS (SELECT id, hex(CAST(text AS BLOB)) AS hxs FROM reps),
       |byt AS (SELECT id, hxs, CAST(length(hxs) / 2 AS BIGINT) AS nb,
       |    list_transform(range(0, CAST(length(hxs) / 2 AS BIGINT)),
       |      k -> CAST(concat('0x', substring(hxs, CAST(2*k+1 AS INT), 2)) AS INT)) AS bytes
       |  FROM hx),
       |bnd AS (SELECT id, hxs, nb,
       |    list_reduce([[-1]] || list_transform(
       |        list_filter(range(0, nb), i -> i >= 15 AND $win), c -> [c]),
       |      (a, x) -> a || CASE WHEN x[1] - a[-1] >= 16 THEN [x[1]] ELSE [] END) AS bl
       |  FROM byt),
       |chks AS (SELECT id, list_distinct(
       |    list_transform(range(1, len(bl)), j ->
       |      ${chunkFp("bl[j]+1", "bl[j+1]-bl[j]")})
       |    || CASE WHEN bl[-1] + 1 < nb OR nb = 0 THEN
       |         [${chunkFp("bl[-1]+1", "nb-1-bl[-1]")}]
       |       ELSE [] END) AS chunks
       |  FROM bnd),
       |ch AS (SELECT id, unnest(chunks) AS ch FROM chks),
       |rare AS (SELECT id, ch FROM ch WHERE ch IN (
       |  SELECT ch FROM ch GROUP BY ch HAVING COUNT(*) <= 50)),
       |sizes AS (SELECT id, COUNT(*) AS nsz FROM rare GROUP BY id),
       |shr AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS shared
       |  FROM rare x JOIN rare y ON x.ch = y.ch AND x.id < y.id GROUP BY 1, 2),
       |near AS (SELECT a, b,
       |    CAST(shared AS DOUBLE) / least(sa.nsz, sb.nsz) AS overlap
       |  FROM shr JOIN sizes sa ON sa.id = shr.a JOIN sizes sb ON sb.id = shr.b),
       |pairs AS (SELECT a, b, overlap FROM near WHERE overlap >= 0.5
       |  UNION ALL SELECT a, b, overlap FROM exact_pairs)
       |SELECT CAST(FLOOR(overlap * 10) AS BIGINT) AS ov_bucket,
       |  COUNT(1) AS n_pairs FROM pairs GROUP BY 1""".stripMargin
  }

  /** Exact top-k cosine (probes = vec_id < 8, k = 5): oracle for q29 and,
    * via the exact-recall configuration, q38. */
  private val bruteForceTopKOracle: String =
    """WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       s AS (
         SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(list_zip(p.embedding, c.embedding),
             x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
           (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
            sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
         FROM embeddings c, p WHERE c.vec_id <> p.vec_id)
       SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
         ROUND(cos, 6) AS cos_r
       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         ORDER BY cos DESC, neighbor_id) rn FROM s)
       WHERE rn <= 5"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg_basic" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS sum_revenue,
         CAST(SUM(CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE) / COUNT(1) AS avg_disc,
         COUNT(1) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q02_conditional_buckets" ->
      """SELECT event_type,
         COUNT(CASE WHEN value BETWEEN 0 AND 30 THEN 1 END) AS b_0_30,
         COUNT(CASE WHEN value BETWEEN 30 AND 60 THEN 1 END) AS b_30_60,
         COUNT(CASE WHEN value BETWEEN 90 AND 150 THEN 1 END) AS b_90_150,
         COUNT(CASE WHEN value BETWEEN 180 AND 300 THEN 1 END) AS b_180_300,
         COUNT(CASE WHEN value BETWEEN 330 AND 480 THEN 1 END) AS b_330_480,
         COUNT(CASE WHEN value > 480 THEN 1 END) AS b_over_480,
         COUNT(1) AS total
         FROM events GROUP BY event_type""",

    "q03_count_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,
         COUNT(1) AS n_orders FROM orders GROUP BY o_orderpriority""",

    "q04_star_join" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
         COUNT(1) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "q05_delta_join" ->
      """WITH tgt AS (
           SELECT * FROM (SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM events WHERE date_part('day', ts) % 2 = 0) WHERE rn = 1),
         stg AS (
           SELECT * FROM (SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM events WHERE date_part('day', ts) % 2 = 1) WHERE rn = 1)
         SELECT s.user_id, s.event_id,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, s.event_type
         FROM stg s LEFT JOIN tgt t ON s.user_id = t.user_id
         WHERE t.user_id IS NULL OR s.ts > t.ts""",

    "q06_scd1_merge" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
         event_type, value
         FROM (SELECT user_id, event_id, ts, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
           FROM events) WHERE rn = 1""",

    "q07_append_if_absent" ->
      """WITH tgt AS (
           SELECT user_id, event_id, ts, event_type, value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM events WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1),
         stg AS (
           SELECT user_id, event_id, ts, event_type, value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM events) WHERE rn = 1)
         SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           event_type, value FROM tgt
         UNION ALL
         SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           event_type, value FROM stg
         WHERE user_id NOT IN (SELECT user_id FROM tgt)""",

    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01')""",

    "q09_keep_latest" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
         event_type
         FROM (SELECT user_id, event_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
           FROM events) WHERE rn = 1""",

    "q10_cast_battery" ->
      """WITH src AS (
           SELECT l_linenumber % 7 AS b FROM lineitem),
         vals AS (
           SELECT
             CASE WHEN b=0 THEN '' WHEN b=1 THEN 't' WHEN b=2 THEN 'True'
                  WHEN b=3 THEN 'false' WHEN b=4 THEN '0' WHEN b=5 THEN 'x' END AS sb,
             CASE WHEN b=0 THEN '' WHEN b=1 THEN '42' WHEN b=2 THEN '3.5'
                  WHEN b=3 THEN 'garbage' ELSE '7' END AS si,
             CASE WHEN b=0 THEN '2024-01-02 03:04:05' WHEN b=1 THEN 'not a time' END AS st,
             CASE WHEN b=0 THEN '  x  ' ELSE
               CASE WHEN b=1 THEN 't' WHEN b=2 THEN 'True' WHEN b=3 THEN 'false'
                    WHEN b=4 THEN '0' WHEN b=5 THEN 'x' END END AS se
           FROM src)
         SELECT
           CAST(CASE WHEN sb IS NULL OR sb = '' THEN 0
                WHEN TRY_CAST(sb AS DOUBLE) = 0.0 THEN 0 ELSE 1 END AS BIGINT) AS bt,
           CAST(CASE WHEN sb IN ('t','T','True','true','1') THEN 1 ELSE 0 END AS BIGINT) AS bw,
           CAST(COALESCE(CAST(trunc(TRY_CAST(si AS DOUBLE)) AS BIGINT), 0) AS BIGINT) AS ic,
           CAST(CASE WHEN TRY_CAST(st AS TIMESTAMP) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ts_ok,
           CASE WHEN se IS NULL OR trim(se) = '' THEN NULL ELSE trim(se) END AS trimmed,
           COUNT(1) AS cnt
         FROM vals GROUP BY 1,2,3,4,5""",

    "q11_date_reformat" ->
      """SELECT CAST(date_part('year', d) AS BIGINT) AS y,
         CAST(date_part('month', d) AS BIGINT) AS m, COUNT(1) AS cnt
         FROM (SELECT CAST(try_strptime(strftime(o_orderdate, '%d/%m/%Y'),
           '%d/%m/%Y') AS DATE) AS d FROM orders)
         GROUP BY 1, 2""",

    "q12_tz_convert" ->
      """SELECT strftime(timezone('America/New_York', ts::TIMESTAMPTZ),
           '%Y-%m-%d') AS ny_date, COUNT(1) AS cnt
         FROM events GROUP BY 1""",

    "q13_string_funcs" ->
      """SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS full_name,
         split_part(c_name, '#', 2) AS cust_num,
         upper(c_mktsegment) AS seg_upper,
         CAST(length(c_name) AS BIGINT) AS name_len
         FROM customer""",

    "q14_epoch_intdiv" ->
      """SELECT l_returnflag,
         CAST(SUM(epoch(l_shipdate) - epoch(o_orderdate)) AS BIGINT) AS total_sec,
         ROUND(SUM(epoch(l_shipdate) - epoch(o_orderdate)) / 3600.0, 2) AS total_hours,
         CAST(FLOOR(SUM(epoch(l_shipdate) - epoch(o_orderdate)) / 60) AS BIGINT) AS total_minutes,
         CAST(SUM(epoch(l_shipdate) - epoch(o_orderdate)) AS DOUBLE) / COUNT(1) AS avg_sec,
         COUNT(1) AS cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_returnflag""",

    "q15_json_extract" ->
      """SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_mod, COUNT(1) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",

    "q16_window_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, COUNT(1) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "q17_pivot" ->
      """SELECT user_id % 10 AS cohort,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
         COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY 1""",

    "q18_agent_view_shape" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
         COUNT(1) AS total,
         COUNT(DISTINCT user_id) AS uniq_users,
         CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / 3600.0, 2) AS value_hours,
         CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / 60) AS BIGINT) AS value_minutes,
         CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / COUNT(value) AS avg_value,
         MIN(value) AS min_value, MAX(value) AS max_value,
         COUNT(CASE WHEN value BETWEEN 0 AND 30 THEN 1 END) AS small,
         COUNT(CASE WHEN value BETWEEN 90 AND 150 THEN 1 END) AS medium,
         COUNT(CASE WHEN value > 480 THEN 1 END) AS large,
         COUNT(CASE WHEN date_part('hour', ts) BETWEEN 9 AND 13 THEN 1 END) AS h_9_13,
         COUNT(CASE WHEN date_part('hour', ts) BETWEEN 13 AND 17 THEN 1 END) AS h_13_17,
         COUNT(CASE WHEN date_part('hour', ts) >= 17 THEN 1 END) AS h_17_00
         FROM events WHERE CAST(ts AS DATE) IS NOT NULL
         GROUP BY 1, 2""",

    "q19_topk" ->
      """SELECT c_custkey, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey LIMIT 100""",

    "q21_text_stats" ->
      """SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subtokens,
         ROUND(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) = 0 THEN 0.0
           ELSE CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''), x -> length(x))) AS DOUBLE)
                / len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) END, 4) AS avg_token_len,
         ROUND(CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS alpha_ratio,
         ROUND(CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS punct_ratio,
         CAST(length(text) AS BIGINT) AS n_chars_calc
         FROM documents""",

    "q22_lang_id" ->
      """WITH scores AS (
           SELECT lang, text,
             len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''), x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
             len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''), x -> x IN ('el','la','de','que','y','en','los'))) AS s_es,
             len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''), x -> x IN ('der','die','und','das','ist','von','mit'))) AS s_de,
             len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''), x -> x IN ('le','la','de','et','les','des','un'))) AS s_fr,
             len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), x -> x != ''), x -> x IN ('的','是','在','了','和','有','我'))) AS s_zh
           FROM documents),
         guessed AS (
           SELECT lang,
             CASE WHEN s_en > 0 AND s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'en'
                  WHEN s_es > 0 AND s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'es'
                  WHEN s_de > 0 AND s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'de'
                  WHEN s_fr > 0 AND s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'fr'
                  WHEN s_zh > 0 AND s_zh = greatest(s_en,s_es,s_de,s_fr,s_zh) THEN 'zh'
                  ELSE 'und' END AS lang_guess
           FROM scores)
         SELECT lang, lang_guess, COUNT(1) AS cnt FROM guessed GROUP BY 1, 2""",

    "q23_quality_score" ->
      """WITH toks AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tk
           FROM documents)
         SELECT doc_id,
           ROUND(
             LEAST(CAST(len(tk) AS DOUBLE) / 100.0, 1.0) * 0.4 +
             (CASE WHEN length(text) = 0 THEN 0.0
               ELSE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END) * 0.4 +
             LEAST((CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(tk) END) * 5.0, 1.0) * 0.2,
           4) AS quality
         FROM toks""",

    "q24_fingerprint_dedup" ->
      """SELECT source, COUNT(1) AS n_docs,
         COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_distinct,
         COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct(
           list_filter(regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'), x -> x != ''))), ' '))) AS n_bag_distinct
         FROM documents GROUP BY source""",

    "q29_ann_bruteforce" -> bruteForceTopKOracle,

    // IVF at nProbe = nLists is exact (recall 1.0), so the brute-force SQL
    // is its oracle too — the k-means/list/probe machinery still runs.
    "q38_ann_ivf" -> bruteForceTopKOracle,
    // q57: the amortized build's 4 probe batches at nProbe = nLists —
    // recall exactly 1.0, so brute-force cosine replays the ranking;
    // aggregated per rank exactly as the Spark side emits
    "q57_ann_ivf_amortized" ->
      """WITH p AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 100 IN (0, 1, 2, 3)),
         s AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(p.embedding, c.embedding),
               x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
             (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
              sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
           FROM embeddings c, p WHERE c.vec_id <> p.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY cos DESC, neighbor_id) rn FROM s)
         SELECT CAST(rn AS BIGINT) AS rank, CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(neighbor_id) AS BIGINT) AS sum_neighbor
         FROM r WHERE rn <= 5 GROUP BY 1""",

    "q113_ann_ivf_persisted" -> bruteForceTopKOracle,

    "q25_minhash_signatures" -> q25OracleSql,
    "q26_minhash_pairs" -> q26OracleSql,
    "q177_minhash_hot_bucket" -> q177OracleSql,
    "q178_hot_bucket_clusters" -> q178OracleSql,
    "q27_simhash" -> q27OracleSql,
    "q37_simhash_pairs" -> q37OracleSql,
    "q34_multimodal_features" -> q34OracleSql,
    "q42_stratified_sample" -> q42OracleSql,
    "q47_decontamination" -> q47OracleSql,
    "q48_dedup_clusters" -> q48OracleSql,
    "q43_curation_audit" -> q43OracleSql,
    "q40_chunk_overlap" -> q40OracleSql,

    "q49_conditional_merge" ->
      """WITH tgt AS (
           SELECT 'e' || CAST(c_custkey // 7 AS VARCHAR) || '@firm.com' AS employee_email,
             DATE '2024-01-01' + CAST((c_custkey % 7) * 7 AS INT) AS week_first_day,
             CAST(c_custkey % 5 AS BIGINT) AS goal
           FROM customer WHERE c_custkey <= 100),
         stg AS (
           SELECT 'e' || CAST(c_custkey // 7 AS VARCHAR) || '@firm.com' AS employee_email,
             DATE '2024-01-01' + CAST((c_custkey % 7) * 7 AS INT) AS week_first_day,
             CAST(c_custkey % 10 AS BIGINT) AS goal
           FROM customer WHERE c_custkey % 2 = 0 AND c_custkey <= 150),
         upd AS (
           SELECT s.* FROM stg s JOIN tgt t
             ON s.employee_email = t.employee_email
            AND s.week_first_day = t.week_first_day
           WHERE s.goal <> t.goal),
         ins AS (
           SELECT s.* FROM stg s WHERE NOT EXISTS (
             SELECT 1 FROM tgt t WHERE s.employee_email = t.employee_email
               AND s.week_first_day = t.week_first_day))
         SELECT employee_email, strftime(week_first_day, '%Y-%m-%d') AS week_str,
           goal
         FROM (
           SELECT t.* FROM tgt t WHERE NOT EXISTS (
             SELECT 1 FROM upd u WHERE u.employee_email = t.employee_email
               AND u.week_first_day = t.week_first_day)
           UNION ALL SELECT * FROM upd
           UNION ALL SELECT * FROM ins)""",

    "q50_metrics_pivot" ->
      """WITH long AS (
           SELECT user_id % 20 AS agent_id,
             date_trunc('hour', ts) AS start_time,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS end_time,
             CASE event_type WHEN 'click' THEN 'agents_online'
               WHEN 'view' THEN 'agents_available'
               WHEN 'purchase' THEN 'contacts_queued'
               WHEN 'signup' THEN 'contacts_handled'
               ELSE 'longest_queue_wait' END AS metric,
             CAST(FLOOR(value) AS DOUBLE) AS value, event_id
           FROM events),
         firsted AS (
           SELECT * FROM (SELECT *, row_number() OVER (
               PARTITION BY agent_id, start_time, metric ORDER BY event_id) rn
             FROM long) WHERE rn = 1)
         SELECT CAST(agent_id AS BIGINT) AS agent_id,
           strftime(start_time, '%Y-%m-%d %H:%M:%S') AS start_str,
           strftime(end_time, '%Y-%m-%d %H:%M:%S') AS end_str,
           ROUND(MAX(CASE WHEN metric = 'agents_online' THEN value END), 2) AS agents_online,
           ROUND(MAX(CASE WHEN metric = 'agents_available' THEN value END), 2) AS agents_available,
           ROUND(MAX(CASE WHEN metric = 'contacts_queued' THEN value END), 2) AS contacts_queued,
           ROUND(MAX(CASE WHEN metric = 'contacts_handled' THEN value END), 2) AS contacts_handled,
           ROUND(MAX(CASE WHEN metric = 'longest_queue_wait' THEN value END), 2) AS longest_queue_wait,
           ROUND(MAX(CASE WHEN metric = 'abandon_rate' THEN value END), 2) AS abandon_rate,
           ROUND(MAX(CASE WHEN metric = 'service_level' THEN value END), 2) AS service_level
         FROM firsted GROUP BY 1, 2, 3""",

    "q51_lifecycle_ep1" ->
      """WITH base AS (
           SELECT o_orderkey AS k,
             o_orderstatus AS status,
             CASE WHEN o_orderkey % 3 = 0 THEN 'High'
                  WHEN o_orderkey % 3 = 1 THEN 'Normal' ELSE '' END AS priority,
             CASE o_orderkey % 5 WHEN 0 THEN '' WHEN 1 THEN 't'
               WHEN 2 THEN 'false' WHEN 3 THEN '1' ELSE '0' END AS isclosed_raw,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
               ELSE CAST(o_orderdate AS TIMESTAMP) END AS activitydate,
             CAST(o_orderdate AS TIMESTAMP) AS lmd0
           FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey <= 60000),
         tgt AS (SELECT k, status, priority, isclosed_raw, activitydate,
             lmd0 AS lmd FROM base),
         stg AS (SELECT k, 'U' AS status, priority, isclosed_raw, activitydate,
             CASE WHEN k % 3 = 0 THEN lmd0 + INTERVAL 2 DAY
               ELSE lmd0 - INTERVAL 1 DAY END AS lmd
           FROM base WHERE k % 4 = 0),
         merged AS (
           SELECT * FROM (SELECT *, row_number() OVER (
               PARTITION BY k ORDER BY lmd DESC) rn
             FROM (SELECT * FROM tgt UNION ALL SELECT * FROM stg))
           WHERE rn = 1)
         SELECT status,
           CAST(CASE WHEN isclosed_raw IS NULL OR isclosed_raw = '' THEN 0
             WHEN TRY_CAST(isclosed_raw AS DOUBLE) = 0.0 THEN 0
             ELSE 1 END AS BIGINT) AS isclosed,
           COUNT(1) AS n,
           COUNT(activitydate) AS n_valid_activity,
           MAX(strftime(lmd, '%Y-%m-%d %H:%M:%S')) AS max_lmd,
           COUNT(DISTINCT priority) AS n_priorities
         FROM merged GROUP BY 1, 2""",

    "q58_gopher_rules" ->
      """WITH tk AS (
           SELECT source, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS toks
           FROM documents),
         st AS (
           SELECT source, text,
             len(toks) AS nw,
             list_sum(list_transform(toks, x -> length(x))) AS sumlen,
             len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\.\.\.'))
               + len(regexp_extract_all(text, '…')) AS nsym,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
             len(list_filter(['the','a','of','and','to','in','is'],
               m -> list_contains(toks, m))) AS nstop
           FROM tk)
         SELECT source,
           CASE WHEN text IS NULL THEN 'null_text'
             WHEN nw < 25 OR nw > 90 THEN 'word_count'
             WHEN CAST(sumlen AS DOUBLE)/nw < 3.0
               OR CAST(sumlen AS DOUBLE)/nw > 4.6 THEN 'word_length'
             WHEN CAST(nsym AS DOUBLE)/nw > 0.1 THEN 'symbol_ratio'
             WHEN CAST(nalpha AS DOUBLE)/nw < 0.8 THEN 'alpha_words'
             WHEN nstop < 2 THEN 'stopword'
             ELSE 'kept' END AS reason,
           COUNT(1) AS n
         FROM st GROUP BY 1, 2""",

    "q59_line_dedup" ->
      """WITH multi AS (
           SELECT doc_id, concat_ws(chr(10), text, substring(text, 1, 50),
             substring(text, 1, 50), text) AS text
           FROM documents),
         d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM multi)
         SELECT doc_id,
           ROUND(CASE WHEN len(ls) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)/len(ls) END,
             4) AS dup_frac,
           md5(array_to_string(list_filter(ls,
             (x, i) -> list_position(ls, x) = i), chr(10))) AS dedup_md5
         FROM d""",

    "q60_pii_scrub" ->
      """WITH pii AS (
           SELECT doc_id,
             concat_ws(' ', text,
               'user' || CAST(doc_id AS VARCHAR) || '@example.com',
               '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST(doc_id % 100 AS VARCHAR),
               '555-' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0'),
               md5(CAST(doc_id AS VARCHAR))) AS text
           FROM documents),
         s AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '(?:\+?1[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
             '\b[0-9a-fA-F]{32,}\b', '<KEY>', 'g') AS sc
           FROM pii)
         SELECT doc_id, md5(sc) AS scrub_md5,
           CAST(len(regexp_extract_all(sc, '<EMAIL>')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(sc, '<IP>')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(sc, '<PHONE>')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(sc, '<KEY>')) AS BIGINT) AS n_key
         FROM s""",

    "q61_repetition_stats" ->
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN text || ' ' || text
               ELSE text END AS text
           FROM documents),
         tk AS (SELECT doc_id, text,
             list_filter(regexp_split_to_array(
               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
               x -> x != '') AS t
           FROM base),
         sh AS (SELECT doc_id, text,
             CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
               ELSE list_transform(range(1, len(t)), i ->
                 array_to_string(t[i:i+1], ' ')) END AS s2,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
               ELSE list_transform(range(1, len(t) - 1), i ->
                 array_to_string(t[i:i+2], ' ')) END AS s3
           FROM tk)
         SELECT doc_id,
           CAST(FLOOR((CASE WHEN text IS NULL OR len(s2) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(s2)) AS DOUBLE)/len(s2) END)
             * 1000) AS BIGINT) AS dup2_bucket,
           CAST(FLOOR((CASE WHEN text IS NULL OR len(s3) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(s3)) AS DOUBLE)/len(s3) END)
             * 1000) AS BIGINT) AS dup3_bucket
         FROM sh""",

    "q62_paragraph_dedup" ->
      """WITH multi AS (
           SELECT doc_id, concat_ws(chr(10)||chr(10), text,
             'shared boilerplate block number ' || CAST(doc_id % 7 AS VARCHAR),
             substring(text, 1, 60)) AS text
           FROM documents),
         p AS (
           SELECT doc_id,
             unnest(string_split(text, chr(10)||chr(10))) AS para,
             unnest(generate_series(1,
               len(string_split(text, chr(10)||chr(10))))) AS pos
           FROM multi),
         r AS (
           SELECT doc_id, pos, para,
             row_number() OVER (
               PARTITION BY md5(lower(trim(
                 regexp_replace(para, '\s+', ' ', 'g'))))
               ORDER BY doc_id, pos) AS rk
           FROM p)
         SELECT doc_id,
           CAST(COUNT(1) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rk = 1 THEN para END,
             chr(10)||chr(10) ORDER BY pos), '')) AS dedup_md5
         FROM r GROUP BY doc_id""",

    "q63_tfidf_terms" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(1) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(1) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term, tf,
             tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1) AS score
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS rnk
           FROM scored)
         SELECT doc_id, term, tf, ROUND(score, 6) AS score_r,
           CAST(rnk AS BIGINT) AS rank
         FROM rk WHERE rnk <= 3""",

    "q64_bm25_rank" ->
      """WITH lens AS (
           SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '')) AS DOUBLE) AS dl
           FROM documents),
         stats AS (SELECT COUNT(1) AS n, AVG(dl) AS avgdl FROM lens),
         tok AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(1) AS BIGINT) AS tf
           FROM tok WHERE term IN ('spark', 'join', 'window', 'hash')
           GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT doc_id,
             SUM(CAST(
               ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
               (tf * (1.2 + 1) / (tf + 1.2 * (1.0 - 0.75 +
                 0.75 * dl / avgdl)))
               AS DECIMAL(27,12))) AS score,
             COUNT(1) AS n_matched
           FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id)
             CROSS JOIN stats
           GROUP BY doc_id),
         rk AS (SELECT doc_id, score, n_matched,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
           FROM scored)
         SELECT doc_id, CAST(ROUND(score, 6) AS DOUBLE) AS score_r,
           CAST(n_matched AS BIGINT) AS n_matched,
           CAST(rnk AS BIGINT) AS rank
         FROM rk WHERE rnk <= 20""",

    "q65_range_join" ->
      """WITH iv AS (
           SELECT o_orderkey AS interval_key,
             CAST(epoch(o_orderdate) AS BIGINT) AS start_s,
             CAST(epoch(o_orderdate) AS BIGINT)
               + (o_orderkey % 20 + 1) * 86400 AS end_s
           FROM orders WHERE o_orderkey % 997 = 0),
         pt AS (SELECT CAST(epoch(l_shipdate) AS BIGINT) AS p_s, l_quantity
           FROM lineitem)
         SELECT interval_key,
           CAST(COUNT(1) AS BIGINT) AS n_points,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
         FROM pt JOIN iv ON p_s >= start_s AND p_s <= end_s
         GROUP BY 1""",

    "q66_unigram_logprob" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '')) AS term
           FROM documents),
         tot AS (SELECT COUNT(1) AS t FROM tok),
         c AS (SELECT doc_id, COUNT(1) OVER (PARTITION BY term) AS tc
           FROM tok),
         s AS (SELECT doc_id,
             SUM(CAST(ln(CAST(tc AS DOUBLE) / t) AS DECIMAL(27,12)))
               AS ssum,
             COUNT(1) AS n_tokens
           FROM c CROSS JOIN tot GROUP BY doc_id)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(ssum AS DOUBLE) / n_tokens, 6) AS mlp_r
         FROM s""",

    "q67_top_ngrams" ->
      """WITH tk AS (SELECT list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '') AS t
           FROM documents),
         g AS (SELECT unnest(CASE WHEN len(t) >= 3 THEN
             list_transform(range(1, len(t) - 1), i ->
               array_to_string(t[i:i+2], ' '))
             ELSE [] END) AS ngram
           FROM tk),
         c AS (SELECT ngram, CAST(COUNT(1) AS BIGINT) AS n
           FROM g GROUP BY 1),
         r AS (SELECT ngram, n,
             row_number() OVER (ORDER BY n DESC, ngram) AS rnk
           FROM c)
         SELECT ngram, n, CAST(rnk AS BIGINT) AS rank
         FROM r WHERE rnk <= 15""",

    "q68_url_canonical" ->
      """WITH u AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END)
             || '://WWW.Site' || CAST(doc_id % 20 AS VARCHAR) || '.example'
             || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                 WHEN 2 THEN ':8080' ELSE '' END)
             || '/Docs/p' || CAST(doc_id AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
             || (CASE doc_id % 5
                 WHEN 0 THEN '?utm_source=feed&q=' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN '?q=' || CAST(doc_id AS VARCHAR)
                   || '&utm_campaign=x'
                 WHEN 2 THEN '?fbclid=abc'
                 WHEN 4 THEN '?a=1&gclid=z&b=2' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END)
             AS url
           FROM documents),
         c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS s
           FROM u),
         c2 AS (SELECT doc_id, regexp_replace(regexp_replace(s,
             '(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*&', '', 'g'),
             '[?&](utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*$', '', 'g') AS s
           FROM c1),
         p AS (SELECT doc_id,
             lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(s,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
             regexp_replace(regexp_extract(s,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1), '/+$', '', 'g')
               AS rest
           FROM c2),
         h AS (SELECT doc_id, scheme, rest,
             regexp_extract(hostport, '^([^:]+)', 1) AS host,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port
           FROM p)
         SELECT doc_id,
           scheme || '://' || host
             || (CASE WHEN port != '' AND NOT (scheme = 'http' AND port = '80')
                 AND NOT (scheme = 'https' AND port = '443')
                 THEN ':' || port ELSE '' END)
             || rest AS url_canonical,
           host
         FROM h""",

    "q69_snapshot_diff" ->
      """WITH oldsnap AS (SELECT doc_id, text FROM documents),
         newsnap AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' EDITED' ELSE text END
               AS text
           FROM documents WHERE doc_id % 11 != 0
           UNION ALL
           SELECT doc_id + 1000000,
             'new doc ' || CAST(doc_id AS VARCHAR)
           FROM documents WHERE doc_id % 13 = 0),
         o AS (SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS ofp,
             TRUE AS in_old
           FROM oldsnap),
         n AS (SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS nfp,
             TRUE AS in_new
           FROM newsnap)
         SELECT doc_id,
           CASE WHEN in_old IS NULL THEN 'added'
             WHEN in_new IS NULL THEN 'removed'
             WHEN ofp IS NOT DISTINCT FROM nfp THEN 'unchanged'
             ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n USING (doc_id)""",

    "q70_overlap_join" ->
      """WITH l AS (SELECT o_orderkey AS l_key,
             CAST(epoch(o_orderdate) AS BIGINT) AS ls,
             CAST(epoch(o_orderdate) AS BIGINT)
               + (o_orderkey % 15 + 1) * 86400 AS le
           FROM orders WHERE o_orderkey % 211 = 0),
         r AS (SELECT o_orderkey AS r_key,
             CAST(epoch(o_orderdate) AS BIGINT) AS rs,
             CAST(epoch(o_orderdate) AS BIGINT)
               + (o_orderkey % 10 + 1) * 86400 AS re
           FROM orders WHERE o_orderkey % 307 = 0)
         SELECT l_key, r_key,
           CAST((LEAST(le, re) - GREATEST(ls, rs)) / 86400 AS BIGINT)
             AS overlap_days
         FROM l JOIN r ON ls <= re AND rs <= le""",

    "q71_heavy_hitters" ->
      """WITH tok AS (
           SELECT unnest(list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '')) AS item
           FROM documents),
         c AS (SELECT item, CAST(COUNT(1) AS BIGINT) AS cnt
           FROM tok GROUP BY 1),
         r AS (SELECT item, cnt,
             row_number() OVER (ORDER BY cnt DESC, item) AS rnk
           FROM c)
         SELECT CAST(rnk AS BIGINT) AS rank, item, cnt
         FROM r WHERE rnk <= 10""",

    "q72_domain_quota" ->
      """WITH h AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'big.example'
             ELSE 's' || CAST(doc_id % 7 AS VARCHAR) || '.example' END
             AS host
           FROM documents),
         r AS (SELECT doc_id, host,
             row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
           FROM h)
         SELECT host, CAST(COUNT(1) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
         FROM r WHERE rn <= 20 GROUP BY host""",

    "q73_corpus_split" -> q73OracleSql,

    "q74_sliding_chunks" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '') AS t
           FROM documents),
         nz AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
         c AS (SELECT doc_id, n, t, unnest(range(0,
             CASE WHEN n <= 64 THEN 1
               ELSE 1 + CAST(CEIL(CAST(n - 64 AS DOUBLE) / 32) AS BIGINT)
             END)) AS i
           FROM nz)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           array_to_string(t[i*32+1 : i*32+64], ' ') AS chunk_text,
           CAST(LEAST(64, n - i*32) AS BIGINT) AS n_tokens
         FROM c""",

    "q75_winsorize" ->
      """WITH ranked AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             COUNT(1) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL),
         thr AS (SELECT event_type,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN value END)
               AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN value END)
               AS hi
           FROM ranked GROUP BY event_type),
         w AS (SELECT e.event_type, e.value,
             CASE WHEN e.value IS NULL THEN NULL
               WHEN e.value < t.lo THEN t.lo
               WHEN e.value > t.hi THEN t.hi ELSE e.value END AS vw,
             t.lo, t.hi
           FROM events e LEFT JOIN thr t USING (event_type))
         SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(vw AS DECIMAL(27,12))) AS DOUBLE)
             / COUNT(vw), 6) AS mean_w,
           CAST(COUNT(CASE WHEN value < lo THEN 1 END) AS BIGINT) AS n_lo,
           CAST(COUNT(CASE WHEN value > hi THEN 1 END) AS BIGINT) AS n_hi
         FROM w GROUP BY event_type""",

    "q76_bloom_semi_join" ->
      """SELECT l_returnflag, CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,12))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderstatus = 'O' AND o_orderpriority LIKE '1%')
         GROUP BY l_returnflag""",

    "q77_bloom_anti_join" ->
      """SELECT l_returnflag, CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,12))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
           WHERE o_orderstatus = 'O' AND o_orderpriority LIKE '1%')
         GROUP BY l_returnflag""",

    "q78_group_sample" -> s"""
      WITH h AS (SELECT source, CAST(doc_id AS VARCHAR) AS v,
          ${duckHash("'graft:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      r AS (SELECT source, v,
          row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
        FROM h)
      SELECT source, CAST(rn - 1 AS BIGINT) AS rank, v AS doc_id
      FROM r WHERE rn <= 5""",

    "q80_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id, source, text,
           CASE WHEN text IS NULL THEN '__null__' || CAST(doc_id AS VARCHAR)
             ELSE md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
           END AS f
         FROM documents),
       b AS (SELECT doc_id, source, f,
           row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
         FROM fp WHERE doc_id % 2 = 0),
       p AS (SELECT DISTINCT
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
         FROM documents WHERE doc_id % 4 = 1 AND text IS NOT NULL)
       SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
         CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       FROM b WHERE rn = 1 AND f NOT IN (SELECT f FROM p)
       GROUP BY source""",

    "q81_key_skew" ->
      """WITH k AS (SELECT COALESCE(CAST(user_id AS VARCHAR), '(null)')
             AS key FROM events),
         c AS (SELECT key, COUNT(1) AS cnt FROM k GROUP BY key),
         t AS (SELECT COUNT(1) AS tot FROM k),
         r AS (SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key) AS rk
           FROM c)
         SELECT key, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // (SELECT tot FROM t) AS BIGINT) AS share_ppm,
           CAST(rk AS BIGINT) AS rank
         FROM r WHERE rk <= 10""",

    "q82_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
           FROM events WHERE ts IS NOT NULL),
         l AS (SELECT user_id, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL
                 OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
               AS brk
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM l),
         g AS (SELECT user_id, sid, COUNT(1) AS len
           FROM s GROUP BY user_id, sid)
         SELECT user_id, CAST(COUNT(1) AS BIGINT) AS n_sessions,
           CAST(SUM(len) AS BIGINT) AS n_events,
           CAST(MAX(len) AS BIGINT) AS max_len
         FROM g GROUP BY user_id""",

    "q83_funnel" ->
      """WITH e AS (SELECT user_id, event_type AS ty, epoch_us(ts) AS us
           FROM events WHERE ts IS NOT NULL),
         s1 AS (SELECT user_id, CAST(MIN(us) AS BIGINT) AS t_1
           FROM e WHERE ty = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, CAST(MIN(us) AS BIGINT) AS t_2
           FROM e JOIN s1 USING (user_id)
           WHERE ty = 'click' AND us >= t_1 AND us <= t_1 + 604800000000
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, CAST(MIN(us) AS BIGINT) AS t_3
           FROM e JOIN s2 USING (user_id)
           WHERE ty = 'purchase' AND us >= t_2 AND us <= t_2 + 604800000000
           GROUP BY e.user_id)
         SELECT s1.user_id, t_1, t_2, t_3,
           CAST(1 + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS steps_completed
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",

    "q84_rolling_agg" ->
      """SELECT event_id, CAST(COUNT(1) OVER w AS BIGINT) AS roll_n,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) OVER w AS DOUBLE)
             AS roll_sum
         FROM events WHERE ts IS NOT NULL
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "q86_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q91_cube" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(1) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "q92_ngram_decontaminate" -> q92OracleSql,
    "q93_classifier_score" -> q93OracleSql,
    "q94_blocklist_filter" -> q94OracleSql,
    "q95_semantic_prune" -> q95OracleSql,
    "q96_embedding_centroids" -> q96OracleSql,
    "q97_corpus_report" -> q97OracleSql,
    "q98_pagerank" -> q98OracleSql,
    "q99_pseudonymize" -> q99OracleSql,
    "q100_perplexity_buckets" -> q100OracleSql,
    "q101_standardize_embeddings" -> q101OracleSql,

    "q87_mix_corpus" -> s"""
      WITH n AS (SELECT source, COUNT(1) AS ns FROM documents
        GROUP BY source),
      thr AS (SELECT source,
          CAST(FLOOR(LEAST(1.0,
            CAST(60 AS DOUBLE) * CASE source
              WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
              WHEN 'src2' THEN 0.2 END / CAST(ns AS DOUBLE))
            * 1152921504606846976) AS BIGINT) AS t
        FROM n
        WHERE source IN ('src0', 'src1', 'src2'))
      SELECT d.source, CAST(COUNT(1) AS BIGINT) AS n,
        CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      FROM documents d JOIN thr ON d.source = thr.source
      WHERE ${duckHash("'graft:' || CAST(doc_id AS VARCHAR)")} < t
      GROUP BY d.source""",

    "q88_incremental_neardup" -> q88OracleSql,

    "q90_weighted_sample" -> s"""
      SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
        CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0.0
        AND ${duckHash("'graft:' || CAST(doc_id AS VARCHAR)")}
          < CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
              CAST(0.0005 AS DOUBLE) * n_chars)
              * 1152921504606846976) AS BIGINT)
      GROUP BY source""",

    "q89_retention" ->
      """WITH a AS (SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS day
           FROM events WHERE ts IS NOT NULL),
         c AS (SELECT k, MIN(day) AS cohort FROM a GROUP BY k)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
           CAST(day - cohort AS BIGINT) AS offset_days,
           CAST(COUNT(1) AS BIGINT) AS n_active
         FROM a JOIN c USING (k)
         GROUP BY cohort, day - cohort""",

    "q85_table_checksum" -> {
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus", "l_shipdate")
      val rowStr = "concat_ws(chr(1), " + cols.map(c =>
        s"CASE WHEN $c IS NULL THEN chr(2) ELSE CAST($c AS VARCHAR) END")
        .mkString(", ") + ")"
      val nulls = cols.map(c =>
        s"CAST(COUNT(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS nulls_$c")
        .mkString(", ")
      s"""SELECT CAST(COUNT(1) AS BIGINT) AS n_rows,
            CAST(CAST(SUM(${duckHash(rowStr)}) AS DECIMAL(38,0)) AS VARCHAR)
              AS checksum, $nulls
          FROM lineitem"""
    },

    "q79_zorder_value" -> {
      // the identical 20-term interleave, generated as literal SQL
      val terms = (for {
        (c, j) <- Seq("l_partkey", "l_suppkey").zipWithIndex
        i <- 0 until 10
      // NOTE: << binds LOOSER than + in DuckDB; each term needs its own
      // outer parens or the sum chain-shifts
      } yield s"(((($c % 1024) >> $i) & 1) << ${i * 2 + j})").mkString(" + ")
      s"""SELECT l_returnflag, CAST(COUNT(1) AS BIGINT) AS n,
            CAST(SUM($terms) AS BIGINT) AS sum_z
          FROM lineitem GROUP BY l_returnflag"""
    },

    "q46_exact_quantiles" ->
      """WITH ranked AS (SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           COUNT(1) OVER (PARTITION BY event_type) AS n
         FROM events WHERE value IS NOT NULL)
         SELECT event_type,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN value END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN value END) AS p95,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END) AS p99
         FROM ranked GROUP BY event_type""",

    "q111_bpe_chunks" -> {
      val enc = Bpe.oracleEncodeSql("text", BpeVocab.merges)
      s"""WITH e AS (SELECT doc_id, $enc AS enc FROM documents),
         |l AS (SELECT doc_id, enc, length(enc) AS n FROM e
         |  WHERE length(enc) > 0),
         |c AS (SELECT doc_id, enc, n, unnest(range(
         |    CASE WHEN n <= 64 THEN 1
         |      ELSE 1 + CAST(CEIL(CAST(n - 64 AS DOUBLE) / 32) AS BIGINT)
         |    END)) AS j
         |  FROM l)
         |SELECT doc_id, CAST(j AS BIGINT) AS chunk_id,
         |  md5(substring(enc, CAST(j*32 + 1 AS BIGINT), 64)) AS chunk_md5,
         |  CAST(LEAST(64, n - j*32) AS BIGINT) AS n_tokens
         |FROM c""".stripMargin
    },

    "q112_bpe_weighted_mix" -> {
      val cnt = Bpe.oracleTokenCountSql("text", BpeVocab.merges)
      s"""WITH w AS (SELECT doc_id, source, $cnt AS bpe FROM documents),
         |n AS (SELECT source, SUM(bpe) AS ns FROM w
         |  WHERE source IN ('src0', 'src1') GROUP BY source),
         |thr AS (SELECT source,
         |    CAST(FLOOR(LEAST(1.0,
         |      CAST(8000 AS DOUBLE) * 0.5 / CAST(ns AS DOUBLE))
         |      * 1152921504606846976) AS BIGINT) AS t
         |  FROM n)
         |SELECT d.source, CAST(COUNT(1) AS BIGINT) AS n,
         |  CAST(SUM(d.doc_id) AS BIGINT) AS sum_ids,
         |  CAST(SUM(d.bpe) AS BIGINT) AS kept_tokens
         |FROM w d JOIN thr ON d.source = thr.source
         |WHERE ${duckHash("'graft:' || CAST(d.doc_id AS VARCHAR)")} < t
         |GROUP BY d.source""".stripMargin
    },

    "q114_training_pipeline" -> q114OracleSql,

    "q115_perceptron_training" -> q115OracleSql,

    "q125_perceptron_inference" -> q125OracleSql,

    "q127_ivfpq_ann" -> q127OracleSql,
    "q158_ivfpq_append" -> q158OracleSql,
    // the persisted append replays identically: the disk round trip is
    // lossless by contract, so q158's oracle pins it too
    "q159_ivfpq_append_persisted" -> q158OracleSql,
    // ...and so does the streaming ingest: deterministic row-local
    // encode means batch arrival order cannot change the served view
    "q160_streaming_index" -> q158OracleSql,
    "q161_index_delete" -> q161OracleSql,
    "q162_index_drift_recall" -> q162OracleSql,
    "q163_index_compaction" -> q163OracleSql,
    "q164_shard_compaction" -> q147OracleSql,
    "q165_index_retrain" -> q165OracleSql,
    "q166_store_time_travel" -> packOracleSql(docWhere =
      """d.doc_id <= (SELECT MAX(doc_id) * 2 // 3 FROM documents
        |             WHERE text IS NOT NULL)""".stripMargin),
    "q167_streaming_cdc_index" -> q167OracleSql,
    "q168_streaming_refresh" -> q168OracleSql,
    "q169_store_retention" ->
      s"""SELECT source, seq_id, n_tokens, ids_md5,
         |  TRUE AS retention_gates_ok
         |FROM (${q147OracleSql})""".stripMargin,
    "q170_refresh_cross_store" -> q170OracleSql,
    "q171_cross_store_asof" -> q171OracleSql,
    "q173_attributed_refresh" -> q173OracleSql,
    "q174_resumed_refresh" -> q174OracleSql,
    // q175 replays q170's oracle VERBATIM: the mid-stream
    // fold-swap-retire cycle must move no answer — identical served
    // id set, identical store digest — while the in-query gates pin
    // the retention contract (floors, retired predecessors, refused
    // below-floor asOf) that SQL cannot see.
    "q175_managed_refresh" -> q170OracleSql,
    // q176 replays q171's paired mid-history oracle VERBATIM: after a
    // keep=1 windowed compaction the paired snapshots sit exactly AT
    // the new retention floors and must serve bit-identically; the
    // in-query gates pin the window mechanics (floors one step below
    // latest, full views unchanged, one step below each floor
    // refused).
    "q176_windowed_retention" -> q171OracleSql,

    "q130_ann_recall" -> q130OracleSql,
    "q138_ivfpq_production" -> q138OracleSql,
    "q139_decontaminate_scaled" -> q139OracleSql,
    "q140_bpe1k_tokens" -> q140OracleSql,
    "q141_bpe1k_mass" -> q141OracleSql,
    "q146_bpe1k_token_ids" -> q146OracleSql,
    "q147_token_shards" -> q147OracleSql,
    // q157: the streaming-built store's final state must equal the
    // one-shot pack of the whole corpus (id-ordered arrival), so q147's
    // corpus-wide replay pins every sequence the stream produced
    "q157_streaming_shards" -> q147OracleSql,
    "q151_shards_with_ids" -> q151OracleSql,
    "q152_bpe1k_roundtrip" -> q152OracleSql,
    "q154_incremental_shards" -> q154OracleSql,
    "q155_incremental_pipeline" -> q155OracleSql,
    "q144_bpe1k_quality" -> q144OracleSql,
    "q145_bpe1k_packing" -> q145OracleSql,

    "q132_ivfpq_nprobe_sweep" -> q132OracleSql,

    "q133_corpus_to_shards" -> q133OracleSql,

    "q134_nprobe_autotune" -> q134OracleSql,

    // the streaming twin lands the SAME rows as the batch gate — q119's
    // oracle verbatim
    "q131_streaming_decontaminate" -> q119OracleSql,

    // q135: the q82 batch sessions over second-truncated event times,
    // restricted to the sessions the final watermark seals. wm =
    // max(sec) - 3600.5 s; seal end + 1800 <= wm <=> end <= max - 5401
    // (the .5 makes integer equality impossible on either side).
    "q135_streaming_sessionize" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS uid, event_id,
           epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL),
         mx AS (SELECT MAX(sec) AS maxs FROM e),
         l AS (SELECT uid, sec, event_id,
             CASE WHEN lag(sec) OVER w IS NULL
                 OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS brk
           FROM e
           WINDOW w AS (PARTITION BY uid ORDER BY sec, event_id)),
         s AS (SELECT uid, sec,
             SUM(brk) OVER (PARTITION BY uid ORDER BY sec, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM l),
         g AS (SELECT uid, sid, COUNT(1) AS len, MAX(sec) AS send
           FROM s GROUP BY uid, sid),
         sealed AS (SELECT g.* FROM g, mx WHERE send <= maxs - 5401)
         SELECT uid AS user_id, CAST(COUNT(1) AS BIGINT) AS n_sessions,
           CAST(SUM(len) AS BIGINT) AS n_events,
           CAST(MAX(len) AS BIGINT) AS max_len
         FROM sealed GROUP BY uid""",

    // q149: q84's trailing-hour RANGE frames on second-truncated times,
    // restricted to the events the final watermark seals — a frame looks
    // backward only, so sealing at wm >= ts makes the streamed values
    // exactly the batch ones. Seal: sec*1000 <= max(sec)*1000 - 3600500
    // <=> sec <= maxs - 3601 (the q135 500 ms tie-killer).
    "q149_streaming_rolling" ->
      """WITH e AS (SELECT event_id, user_id,
           epoch_us(ts) // 1000000 AS sec, value
           FROM events WHERE ts IS NOT NULL),
         mx AS (SELECT MAX(sec) AS maxs FROM e),
         r AS (SELECT event_id, sec,
             CAST(COUNT(1) OVER w AS BIGINT) AS roll_n,
             CAST(SUM(CAST(value AS DECIMAL(27,12))) OVER w AS DOUBLE)
               AS roll_sum
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
         SELECT event_id, roll_n, roll_sum FROM r, mx
         WHERE sec <= maxs - 3601""",

    // q172: the interval pairs are watermark-independent (inner results
    // of a left-outer stream-stream join are complete); only the
    // null-extended orphans are seal-gated: a view emits unmatched once
    // v_ms + 21600000 < wm_ms with wm = min(side maxes) - 500 ms
    // <=> v_sec <= LEAST(max_view, max_click) - 21601 (whole-second
    // inputs, so the 500 ms offset kills every tie).
    "q172_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL),
         v AS (SELECT user_id AS u, event_id AS vid, sec AS vs
           FROM e WHERE event_type = 'view'),
         c AS (SELECT user_id AS u, event_id AS cid, sec AS cs
           FROM e WHERE event_type = 'click'),
         mx AS (SELECT LEAST((SELECT MAX(vs) FROM v),
             (SELECT MAX(cs) FROM c)) AS wmx),
         p AS (SELECT v.u, vid, vs, cid, cs FROM v JOIN c
           ON v.u = c.u AND cs >= vs AND cs <= vs + 21600),
         o AS (SELECT v.u, vid FROM v, mx
           WHERE vs <= wmx - 21601 AND NOT EXISTS (SELECT 1 FROM c
             WHERE c.u = v.u AND cs >= vs AND cs <= vs + 21600)),
         un AS (SELECT u, vid, cid, cs - vs AS lag FROM p
           UNION ALL SELECT u, vid, NULL, NULL FROM o)
         SELECT u AS user_id,
           CAST(COUNT(cid) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) - COUNT(cid) AS BIGINT) AS n_orphans,
           CAST(COALESCE(SUM(lag), 0) AS BIGINT) AS lag_sum,
           CAST(COALESCE(SUM(vid * 31 + cid), 0) AS BIGINT) AS pair_ck,
           CAST(COALESCE(SUM(CASE WHEN cid IS NULL THEN vid
             ELSE 0 END), 0) AS BIGINT) AS orphan_ck
         FROM un GROUP BY u""",

    // q136: q83's greedy chains on second-truncated times, keys sealed by
    // the final watermark only: wm > t_last + within <=> t_last <=
    // max(sec) - 604800 - 3601 (same 500 ms tie-killer as q135).
    "q136_streaming_funnel" ->
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS uid, event_type AS ty,
           epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL),
         mx AS (SELECT MAX(sec) AS maxs FROM e),
         s1 AS (SELECT uid, CAST(MIN(sec) AS BIGINT) AS t_1
           FROM e WHERE ty = 'view' GROUP BY uid),
         s2 AS (SELECT e.uid, CAST(MIN(sec) AS BIGINT) AS t_2
           FROM e JOIN s1 USING (uid)
           WHERE ty = 'click' AND sec >= t_1 AND sec <= t_1 + 604800
           GROUP BY e.uid),
         s3 AS (SELECT e.uid, CAST(MIN(sec) AS BIGINT) AS t_3
           FROM e JOIN s2 USING (uid)
           WHERE ty = 'purchase' AND sec >= t_2 AND sec <= t_2 + 604800
           GROUP BY e.uid),
         f AS (SELECT s1.uid, t_1, t_2, t_3,
             CAST(1 + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
                + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS steps_completed,
             COALESCE(t_3, t_2, t_1) AS t_last
           FROM s1 LEFT JOIN s2 USING (uid) LEFT JOIN s3 USING (uid))
         SELECT uid AS user_id, steps_completed, t_1, t_2, t_3
         FROM f, mx WHERE t_last <= maxs - 608401""",

    // q137: exact per-window token counts (capacity > vocab => the MG
    // sketch is exact) over the deterministic hour-slot event times, for
    // the windows the final watermark finalizes (window end < max ts).
    "q137_streaming_heavy_hitters" ->
      """WITH d AS (SELECT doc_id, text,
           1704067200 + (doc_id % 4) * 3600 AS sec FROM documents),
         mx AS (SELECT MAX(sec) AS maxs FROM d),
         tok AS (SELECT (sec // 3600) * 3600 AS win_start,
             unnest(list_filter(regexp_split_to_array(
               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
               x -> x != '')) AS item
           FROM d),
         c AS (SELECT win_start, item, CAST(COUNT(1) AS BIGINT) AS cnt
           FROM tok GROUP BY 1, 2),
         r AS (SELECT win_start, item, cnt,
             row_number() OVER (PARTITION BY win_start
               ORDER BY cnt DESC, item) AS rnk
           FROM c)
         SELECT CAST(win_start AS BIGINT) AS win_start,
           CAST(rnk AS BIGINT) AS rank, item, cnt
         FROM r, mx WHERE rnk <= 10 AND win_start + 3600 < maxs""",

    "q129_scalar_quantize" ->
      """WITH xu AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
           FROM embeddings WHERE embedding IS NOT NULL),
         ex AS (SELECT vec_id, dd.d AS d, xu[dd.d + 1] AS v
           FROM xu, (SELECT unnest(range(64)) AS d) dd),
         st AS (SELECT d, MIN(v) AS mn, MAX(v) - MIN(v) AS sp
           FROM ex GROUP BY d),
         co AS (SELECT e.vec_id, e.d,
             CASE WHEN s.sp = 0 THEN 0
               ELSE GREATEST(LEAST(((e.v - s.mn) * 255) // s.sp, 255), 0)
             END AS c
           FROM ex e JOIN st s ON e.d = s.d)
         SELECT vec_id, CAST(SUM(c) AS BIGINT) AS code_checksum,
           CAST(MAX(CASE WHEN d = 0 THEN c END) AS BIGINT) AS c_d0,
           CAST(MAX(CASE WHEN d = 63 THEN c END) AS BIGINT) AS c_dlast
         FROM co GROUP BY vec_id""",

    // identical arithmetic to q127 — the list-partitioned save/load
    // round trip must not change a single code, list or distance
    "q128_ivfpq_persisted" -> q127OracleSql,

    "q116_kmeans_distributed" -> q116OracleSql,

    "q117_pq_encode" -> q117OracleSql,

    "q118_pq_ann" -> q118OracleSql,

    // identical arithmetic to q118 — the round trip through pqSave/pqLoad
    // must not change a single code or distance
    "q122_pq_ann_persisted" -> q118OracleSql,

    "q126_embedding_pipeline" -> {
      val two60 = 1L << 60
      def thr(c: Double): Long = math.round(c * two60)
      val sh = duckHash("'graft:' || CAST(vec_id AS VARCHAR)")
      val oh = duckHash("'epoch1:' || CAST(vec_id AS VARCHAR)")
      s"""WITH RECURSIVE au AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
         |  FROM embeddings WHERE vec_id >= 32),
         |bu AS (SELECT list_transform(embedding,
         |    x -> CAST(trunc(x::DOUBLE * 1000000) AS BIGINT)) AS xu
         |  FROM embeddings WHERE vec_id < 32 AND embedding IS NOT NULL),
         |an AS (SELECT vec_id, xu,
         |    list_sum(list_transform(xu, x -> x * x)) AS n2 FROM au),
         |bn AS (SELECT xu,
         |    list_sum(list_transform(xu, x -> x * x)) AS n2 FROM bu),
         |hits AS (SELECT DISTINCT vec_id FROM (
         |    SELECT a.vec_id,
         |      list_sum(list_transform(list_zip(a.xu, b.xu),
         |        p -> p[1] * p[2])) AS dot,
         |      a.n2 AS an2, b.n2 AS bn2
         |    FROM an a, bn b)
         |  WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000
         |    >= 2500 * CAST(an2 AS HUGEINT) * bn2),
         |surv AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |  WHERE e.vec_id >= 32
         |    AND e.vec_id NOT IN (SELECT vec_id FROM hits)),
         |${q32PairCtesFrom("surv")},
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |removed AS (SELECT id
         |  FROM (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         |  WHERE cluster <> id),
         |train AS (SELECT vec_id FROM surv
         |  WHERE vec_id NOT IN (SELECT id FROM removed)
         |    AND $sh < ${thr(0.8)}),
         |ord AS (SELECT vec_id, $oh % 4 AS shard,
         |    row_number() OVER (PARTITION BY $oh % 4
         |      ORDER BY $oh, vec_id) - 1 AS pos
         |  FROM train)
         |SELECT CAST(shard AS BIGINT) AS shard, CAST(COUNT(1) AS BIGINT) AS n,
         |  CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
         |  CAST(SUM(pos * vec_id) AS BIGINT) AS order_checksum
         |FROM ord GROUP BY shard""".stripMargin
    },

    "q123_leak_safe_split" -> {
      val two60 = 1L << 60
      def thr(c: Double): Long = math.round(c * two60)
      val h = duckHash("'graft:' || CAST(cluster AS VARCHAR)")
      s"""WITH RECURSIVE $q32PairCtes,
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |lab AS (SELECT e.vec_id, COALESCE(c.cluster, e.vec_id) AS cluster
         |  FROM embeddings e LEFT JOIN cl c ON e.vec_id = c.id),
         |sp AS (SELECT vec_id,
         |    CASE WHEN $h < ${thr(0.8)} THEN 'train'
         |      WHEN $h < ${thr(0.9)} THEN 'val' ELSE 'test' END AS split
         |  FROM lab)
         |SELECT split, CAST(COUNT(1) AS BIGINT) AS n,
         |  CAST(SUM(vec_id) AS BIGINT) AS sum_ids
         |FROM sp GROUP BY split""".stripMargin
    },

    "q124_keep_best_per_cluster" ->
      s"""WITH RECURSIVE ${q26PairCtesAt(0.7)},
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |d AS (SELECT doc_id,
         |    CASE WHEN text IS NOT NULL THEN length(text) END AS quality
         |  FROM documents WHERE doc_id % 10 = 0),
         |lab AS (SELECT d.doc_id, d.quality,
         |    COALESCE(c.cluster, d.doc_id) AS cluster
         |  FROM d LEFT JOIN cl c ON d.doc_id = c.id)
         |SELECT doc_id, CAST(quality AS BIGINT) AS quality FROM (
         |  SELECT doc_id, quality, row_number() OVER (PARTITION BY cluster
         |    ORDER BY quality DESC NULLS LAST, doc_id) AS rn FROM lab)
         |WHERE rn = 1""".stripMargin,

    "q121_hard_negatives" ->
      """WITH p AS (SELECT vec_id, embedding, label FROM embeddings
           WHERE vec_id < 8),
         s AS (
           SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(p.embedding, c.embedding),
               x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
             (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
              sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
           FROM embeddings c, p
           WHERE c.vec_id <> p.vec_id AND c.label IS NOT NULL
             AND p.label IS NOT NULL AND c.label <> p.label)
         SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
           ROUND(cos, 6) AS cos_r
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY cos DESC, neighbor_id) rn FROM s)
         WHERE rn <= 5""",

    "q119_semantic_decontaminate" -> q119OracleSql,

    "q120_training_order" -> {
      val h = duckHash("'epoch1:' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (SELECT doc_id, $h AS h FROM documents)
         |SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8
         |    ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM h""".stripMargin
    },

    "q109_repeated_spans" -> q109OracleSql,

    "q110_cut_repeated_spans" -> q110OracleSql,

    "q107_audio_decode_stats" -> q107OracleSql,

    "q108_audio_resample_stats" -> q108OracleSql,

    "q105_streaming_curate" -> q105OracleSql,

    "q106_streaming_neardup" -> q106OracleSql,

    "q103_bpe_token_count" -> {
      val bpe = Bpe.oracleTokenCountSql("text", BpeVocab.merges)
      s"""SELECT doc_id, CAST($bpe AS BIGINT) AS n_bpe,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
           x -> x != '')) AS BIGINT) AS n_ws
         FROM documents"""
    },

    "q104_bpe_sequence_packing" -> {
      val bpe = Bpe.oracleTokenCountSql("text", BpeVocab.merges)
      s"""WITH toks AS (SELECT doc_id, source,
           COALESCE(CAST($bpe AS BIGINT), 0) AS token_count
         FROM documents),
         packed AS (SELECT source, doc_id, token_count,
           COALESCE(SUM(token_count) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM toks)
         SELECT source, CAST(cum // 2048 AS BIGINT) AS seq_id,
           COUNT(1) AS n_docs,
           CAST(SUM(token_count) AS BIGINT) AS sum_tokens,
           CAST(MIN(cum % 2048) AS BIGINT) AS first_offset
         FROM packed GROUP BY 1, 2"""
    },

    "q45_sequence_packing" ->
      """WITH toks AS (SELECT doc_id, source,
           COALESCE(CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS BIGINT), 0) AS token_count
         FROM documents),
         packed AS (SELECT source, doc_id, token_count,
           COALESCE(SUM(token_count) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM toks)
         SELECT source, CAST(cum // 512 AS BIGINT) AS seq_id,
           COUNT(1) AS n_docs,
           CAST(SUM(token_count) AS BIGINT) AS sum_tokens,
           CAST(MIN(cum % 512) AS BIGINT) AS first_offset
         FROM packed GROUP BY 1, 2""",

    "q44_salted_join" ->
      """SELECT r_name, COUNT(1) AS n,
         CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
         FROM (SELECT event_id, value, user_id % 5 AS r_regionkey FROM events) e
         LEFT JOIN region USING (r_regionkey)
         GROUP BY r_name""",

    "q31_embedding_stats" ->
      """SELECT CAST(label AS BIGINT) AS label, COUNT(1) AS n,
         CAST(SUM(CAST(sqrt(list_sum(list_transform(embedding,
           x -> x::DOUBLE * x::DOUBLE))) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(1) AS avg_norm
         FROM embeddings GROUP BY 1""",







    "q35_view_agent_metrics_v1" -> (fixtureCtes + """SELECT
  strftime(CAST(c.agent_conn AS DATE), '%Y-%m-%d') AS call_date,
  CAST(date_part('month', c.agent_conn) AS BIGINT) AS call_month,
  CAST(date_part('day', c.agent_conn) AS BIGINT) AS call_day,
  CAST(date_part('hour', c.agent_conn) AS BIGINT) AS call_hour,
  u.user_name, u.user_lastname,
  u.user_name || ' ' || u.user_lastname AS user_complete_name,
  u.user_email, l.title,
  l.cm_job_title__c AS cm_job_title,
  l.department__c AS department,
  q.queue_name,
  CAST(SUM(c.agent_interact_duration) AS BIGINT) AS total_agent_interaction,
  CAST((200 * SUM(c.agent_interact_duration) + 3600) // 7200 AS BIGINT) / 100.0 AS total_agent_interaction_hours,
  CAST(FLOOR(SUM(c.agent_interact_duration) / 60.0) AS BIGINT) AS total_agent_interaction_minutes,
  CAST(CAST(SUM(c.agent_interact_duration) AS BIGINT) AS DOUBLE) / COUNT(c.agent_interact_duration) AS avg_agent_interaction,
  CAST(SUM(date_diff('second', c.agent_conn, c.disconn_time)) AS BIGINT) AS total_contact_duration,
  CAST((200 * SUM(date_diff('second', c.agent_conn, c.disconn_time)) + 3600) // 7200 AS BIGINT) / 100.0 AS total_contact_duration_hours,
  CAST(FLOOR(SUM(date_diff('second', c.agent_conn, c.disconn_time)) / 60.0) AS BIGINT) AS total_contact_duration_minutes,
  CAST(SUM(date_diff('second', c.agent_conn, c.disconn_time)) AS DOUBLE) / COUNT(date_diff('second', c.agent_conn, c.disconn_time)) AS avg_contact_duration,
  CAST(SUM(c.agent_afw_duration) AS BIGINT) AS total_agent_afw_duration,
  CAST((200 * SUM(c.agent_afw_duration) + 3600) // 7200 AS BIGINT) / 100.0 AS total_agent_afw_duration_hours,
  CAST(FLOOR(SUM(c.agent_afw_duration) / 60.0) AS BIGINT) AS total_agent_afw_duration_minutes,
  CAST(CAST(SUM(c.agent_afw_duration) AS BIGINT) AS DOUBLE) / COUNT(c.agent_afw_duration) AS avg_agent_afw_duration,
  MIN(c.agent_longest_hold) AS min_agent_longest_hold,
  MAX(c.agent_longest_hold) AS max_agent_longest_hold,
  CAST(SUM(c.agent_conn_att) AS BIGINT) AS total_agent_conn_attempts,
  CAST(SUM(c.customer_hold_duration) AS BIGINT) AS total_customer_hold_duration,
  CAST((200 * SUM(c.customer_hold_duration) + 3600) // 7200 AS BIGINT) / 100.0 AS total_customer_hold_duration_hours,
  CAST(FLOOR(SUM(c.customer_hold_duration) / 60.0) AS BIGINT) AS total_customer_hold_duration_minutes,
  CAST(CAST(SUM(c.customer_hold_duration) AS BIGINT) AS DOUBLE) / COUNT(c.customer_hold_duration) AS avg_customer_hold_duration,
  COUNT(DISTINCT c.customer_phone) AS unique_customers,
  COUNT(c.agent_conn) AS total_calls,
  COUNT(CASE WHEN c.agent_interact_duration BETWEEN 0 AND 120 THEN 1 END) AS duration_less_2_minutes,
  COUNT(CASE WHEN c.agent_interact_duration BETWEEN 120 AND 300 THEN 1 END) AS duration_2_to_5_minutes,
  COUNT(CASE WHEN c.agent_interact_duration BETWEEN 360 AND 1200 THEN 1 END) AS duration_6_to_20_minutes,
  COUNT(CASE WHEN c.agent_interact_duration BETWEEN 1260 AND 2700 THEN 1 END) AS duration_21_to_45_minutes,
  COUNT(CASE WHEN c.agent_interact_duration BETWEEN 2760 AND 5400 THEN 1 END) AS duration_46_to_90_minutes,
  COUNT(CASE WHEN c.agent_interact_duration > 5400 THEN 1 END) AS duration_more_than_90_minutes,
  COUNT(CASE WHEN date_part('hour', c.agent_conn) BETWEEN 9 AND 13
    AND date_part('hour', c.disconn_time) <= 13 THEN 1 END) AS calls_9_13,
  COUNT(CASE WHEN date_part('hour', c.agent_conn) BETWEEN 13 AND 17
    AND date_part('hour', c.disconn_time) <= 17 THEN 1 END) AS calls_13_17,
  COUNT(CASE WHEN date_part('hour', c.agent_conn) >= 17
    AND date_part('hour', c.disconn_time) >= 17 THEN 1 END) AS calls_17_00,
  COUNT(CASE WHEN c.init_method = 'INBOUND' THEN 1 END) AS inbound_calls,
  COUNT(CASE WHEN c.init_method = 'OUTBOUND' THEN 1 END) AS outbound_calls,
  COUNT(CASE WHEN c.init_method = 'TRANSFER' THEN 1 END) AS transfer_calls,
  COUNT(CASE WHEN c.init_method = 'CALLBACK' THEN 1 END) AS callback_calls
FROM f_calls AS c
LEFT JOIN dim_users AS u ON c.agent_id = u.user_id
LEFT JOIN dim_queues AS q ON c.queue_id = q.queue_id
LEFT JOIN dim_users_litify AS l ON c.agent_username = l.username
WHERE CAST(c.agent_conn AS DATE) IS NOT NULL
GROUP BY
  CAST(c.agent_conn AS DATE),
  date_part('month', c.agent_conn),
  date_part('day', c.agent_conn),
  date_part('hour', c.agent_conn),
  u.user_name, u.user_lastname,
  u.user_name || ' ' || u.user_lastname,
  u.user_email, q.queue_name,
  l.title, l.cm_job_title__c, l.cm_job_title_multi__c, l.department__c"""),

    "q36_view_agent_metrics_v2" -> (fixtureCtes + """SELECT
  strftime(CAST(c.init_time AS DATE), '%Y-%m-%d') AS call_date,
  CAST(date_part('month', c.init_time) AS BIGINT) AS call_month,
  CAST(date_part('day', c.init_time) AS BIGINT) AS call_day,
  CAST(date_part('hour', c.init_time) AS BIGINT) AS call_hour,
  u.user_name, u.user_lastname,
  u.user_name || ' ' || u.user_lastname AS user_complete_name,
  u.user_email, u.user_id,
  l.title,
  l.cm_job_title__c AS cm_job_title,
  l.department__c AS department,
  q.queue_name,
  CAST(SUM(c.agent_interact_duration) AS BIGINT) AS total_agent_interaction,
  CAST(SUM(c.agent_interact_duration) AS DOUBLE) / COUNT(c.agent_interact_duration) AS avg_agent_interaction,
  CAST(SUM(date_diff('second', c.agent_conn, c.disconn_time)) AS BIGINT) AS total_contact_duration,
  CAST(SUM(date_diff('second', c.agent_conn, c.disconn_time)) AS DOUBLE) / COUNT(date_diff('second', c.agent_conn, c.disconn_time)) AS avg_contact_duration,
  CAST(SUM(c.agent_afw_duration) AS BIGINT) AS total_agent_afw_duration,
  CAST(SUM(c.agent_afw_duration) AS DOUBLE) / COUNT(c.agent_afw_duration) AS avg_agent_afw_duration,
  MIN(c.agent_longest_hold) AS min_agent_longest_hold,
  MAX(c.agent_longest_hold) AS max_agent_longest_hold,
  CAST(SUM(c.agent_conn_att) AS BIGINT) AS total_agent_conn_attempts,
  CAST(SUM(c.customer_hold_duration) AS BIGINT) AS total_customer_hold_duration,
  CAST(SUM(c.customer_hold_duration) AS DOUBLE) / COUNT(c.customer_hold_duration) AS avg_customer_hold_duration,
  COUNT(DISTINCT c.customer_phone) AS unique_customers,
  COUNT(c.init_time) AS total_calls,
  COUNT(c.agent_conn) AS total_answered_calls,
  COUNT(CASE WHEN date_diff('second', c.agent_conn, c.disconn_time) BETWEEN 0 AND 120 THEN 1 END) AS duration_less_2_minutes,
  COUNT(CASE WHEN date_diff('second', c.agent_conn, c.disconn_time) BETWEEN 120 AND 300 THEN 1 END) AS duration_2_to_5_minutes,
  COUNT(CASE WHEN date_diff('second', c.agent_conn, c.disconn_time) BETWEEN 360 AND 1200 THEN 1 END) AS duration_6_to_20_minutes,
  COUNT(CASE WHEN date_diff('second', c.agent_conn, c.disconn_time) BETWEEN 1260 AND 2700 THEN 1 END) AS duration_21_to_45_minutes,
  COUNT(CASE WHEN date_diff('second', c.agent_conn, c.disconn_time) BETWEEN 2760 AND 5400 THEN 1 END) AS duration_46_to_90_minutes,
  COUNT(CASE WHEN date_diff('second', c.agent_conn, c.disconn_time) > 5400 THEN 1 END) AS duration_more_than_90_minutes,
  COUNT(CASE WHEN date_part('hour', c.init_time) BETWEEN 8 AND 13 THEN 1 END) AS calls_8_13,
  COUNT(CASE WHEN date_part('hour', c.init_time) BETWEEN 13 AND 17 THEN 1 END) AS calls_13_17,
  COUNT(CASE WHEN date_part('hour', c.init_time) >= 17 THEN 1 END) AS calls_17_00,
  COUNT(CASE WHEN c.init_method = 'INBOUND' THEN 1 END) AS inbound_calls,
  COUNT(CASE WHEN c.init_method = 'OUTBOUND' THEN 1 END) AS outbound_calls,
  COUNT(CASE WHEN c.init_method = 'TRANSFER' THEN 1 END) AS transfer_calls,
  COUNT(CASE WHEN c.init_method = 'CALLBACK' THEN 1 END) AS callback_calls
FROM f_calls AS c
LEFT JOIN dim_users AS u ON c.agent_id = u.user_id
LEFT JOIN dim_queues AS q ON c.queue_id = q.queue_id
LEFT JOIN dim_users_litify AS l ON c.agent_username = l.username
GROUP BY
  CAST(c.init_time AS DATE),
  date_part('month', c.init_time),
  date_part('day', c.init_time),
  date_part('hour', c.init_time),
  u.user_name, u.user_lastname,
  u.user_name || ' ' || u.user_lastname,
  u.user_email, u.user_id, q.queue_name,
  l.title, l.cm_job_title__c, l.department__c"""),


    "q28_ngram_jaccard" ->
      """WITH keyed AS (SELECT doc_id AS id, text,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL),
         wrep AS (SELECT id, text, MIN(id) OVER (PARTITION BY fp) AS rep
           FROM keyed),
         exact_pairs AS (SELECT rep AS a, id AS b, 1.0 AS jaccard
           FROM wrep WHERE id <> rep),
         sh0 AS (SELECT id,
           list_distinct(CASE WHEN len(tk) = 0 THEN [''] ELSE tk END) AS shl
           FROM (SELECT id, list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
             x -> x != '') AS tk
           FROM wrep WHERE id = rep)),
         sh AS (SELECT id, UNNEST(shl) AS sh FROM sh0),
         rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 1000),
         rsh AS (SELECT s.id, s.sh FROM sh s JOIN rare r USING (sh)),
         sizes AS (SELECT id, COUNT(*) AS nsh FROM rsh GROUP BY id),
         shared AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS shared
           FROM rsh x JOIN rsh y ON x.sh = y.sh AND x.id < y.id GROUP BY 1, 2),
         jac AS (SELECT a, b,
             CAST(shared AS DOUBLE) / (sa.nsh + sb.nsh - shared) AS jaccard
           FROM shared JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b)
         SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS jac_bucket,
           COUNT(1) AS n_pairs
         FROM (SELECT * FROM exact_pairs
           UNION ALL SELECT * FROM jac WHERE jaccard >= 0.3)
         GROUP BY 1""",

    "q30_ann_lsh" -> q30OracleSql,

    "q32_embedding_neardup" -> q32OracleSql,


    "q39_multimodal_frames" -> q39OracleSql,

    "q102_image_resize_stats" -> q102OracleSql,

    // the lossy-codec contract: every fixture JPEG decodes, dimensions
    // replay the generator formulas, 3 bands — decoder-invariant only
    // q156: the MJPEG/AVI mux -> RIFF demux -> per-frame JPEG decode
    // chain, pinned on its decoder-invariant surface (q142's lossy-codec
    // contract): frame count and per-frame dimensions replay from the
    // fixture formulas; a demuxer that drops/duplicates/truncates a
    // chunk, or a decoder that misreads SOF dimensions, breaks the hash.
    "q156_avi_frames" ->
      """SELECT doc_id, CAST(f.f AS BIGINT) AS frame_idx,
           true AS decode_ok,
           CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height
         FROM documents, (SELECT UNNEST(range(5)) AS f) f
         WHERE f.f < 2 + doc_id % 3""",

    "q142_jpeg_decode" ->
      """SELECT doc_id, true AS decode_ok,
           CAST(8 + (doc_id % 9) AS BIGINT) AS width,
           CAST(8 + (doc_id % 7) AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels
         FROM documents""",


    "q41_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'click'),
         signups AS (
           SELECT user_id, ts AS sts, event_id AS sid,
             value AS signup_value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id, ts
               ORDER BY event_id DESC) rn
             FROM events WHERE event_type = 'signup') WHERE rn = 1)
         SELECT c.event_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           s.sid, s.signup_value
         FROM clicks c ASOF LEFT JOIN signups s
           ON c.user_id = s.user_id AND s.sts <= c.ts""",

    "q33_multimodal_meta" ->
      """SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height
         FROM documents"""
  )
}
