package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's core operator family: SCD Type-1 merge and its variants
  * (SURVEY.md §2.4; reference `Salesforce/Task/SP_litify_task.sql:6-71`,
  * `Amazon Connect/Amazon Connect CTR with boto3/SP_boto3_connect_redshift.sql:5-26`,
  * `Google Sheets/Goals/lambda_legal_goals_upsert.py:48-59`).
  *
  * Scale notes (100 TB): every SCD1 merge here ([[scd1]] and the two
  * warehouse forms built on it) is keep-latest on the staging side, then
  * ONE full-outer join against the target on the key columns. The target
  * is scanned once. Keep-latest's window exchange already hash-partitions
  * the batch on the keys, so the join adds one exchange on the target side
  * — none when the target is bucketed on the keys ([[scd1Bucketed]]): its
  * scan stays bucket-aligned and the batch alone is shuffled, once, into
  * the bucketing. For a partitioned target, merge partition-by-partition
  * ([[scd1Partitioned]]) so only touched partitions are read and
  * rewritten. Keep-latest is a row_number over the key partitioning, never
  * a global sort.
  */
object Merge {

  /** Keep the latest version of each key inside a batch (a batch can carry
    * multiple versions of one id — the pandas path loads CSVs sequentially so
    * later files win, `lambda_litify_task.py:153-166`; SURVEY.md §2.5 D3).
    *
    * `tiebreak` reproduces "later file wins" when orderings are equal.
    * Implemented with row_number over a key-partitioned window: one shuffle
    * on `keys`, no global sort. */
  def keepLatest(df: DataFrame, keys: Seq[String], ordering: String,
                 tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ordering).desc_nulls_last +: tiebreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep the EARLIEST version of each key — the deterministic form of
    * "first writer wins" (D1: DynamoDB conditional put keeps the first
    * arrival; a batch has no arrival order, so earliest `ordering` +
    * `tiebreak` stands in for it). */
  def keepFirst(df: DataFrame, keys: Seq[String], ordering: String,
                tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ordering).asc_nulls_last +: tiebreak.map(_.asc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** J1 delta filter: staging rows that are new (key absent from target) or
    * newer (`staging.ordering > target.ordering`)
    * (`SP_litify_task.sql:6-11`). Only target's key+ordering columns are
    * read — column pruning keeps the target scan narrow. */
  def delta(target: DataFrame, staging: DataFrame, keys: Seq[String],
            ordering: String): DataFrame = {
    val t = target.select((keys :+ ordering).map(col): _*)
      .withColumnRenamed(ordering, "__t_ord")
    staging.join(t, keys, "left_outer")
      .filter(col("__t_ord").isNull || col(ordering) > col("__t_ord"))
      .drop("__t_ord")
  }

  /** M1 — SCD Type 1 merge: matched => overwrite all columns, not matched =>
    * insert (`SP_litify_task.sql:14-71`). Returns the new target content,
    * in the target's column order. Staging is first reduced to one row per
    * key (keep-latest), then full-outer joined with the target on `keys`;
    * per key the staging row wins iff it is present and the target row is
    * absent, has a NULL `ordering`, or has a smaller one (strict `>`: an
    * equal ordering keeps the target row) — the [[delta]] rule. NULL keys
    * never match, so target rows with a NULL key all survive and the
    * batch's latest NULL-key row is inserted. Assumes the target holds one
    * row per key, as every merge here leaves it. Idempotent:
    * merge(merge(t,s),s) == merge(t,s). */
  def scd1(target: DataFrame, staging: DataFrame, keys: Seq[String],
           ordering: String): DataFrame = {
    val values = target.columns.toSeq.filterNot(keys.contains)
    def side(df: DataFrame, p: String): DataFrame =
      df.select(keys.map(col) ++ values.map(c => col(c).as(p + c)) :+
        lit(true).as(p + "_in"): _*)
    val s = side(keepLatest(staging, keys, ordering), "__s_")
    val t = side(target, "__t_")
    val stagingWins = col("__s__in").isNotNull && (col("__t__in").isNull ||
      col(s"__t_$ordering").isNull ||
      col(s"__s_$ordering") > col(s"__t_$ordering"))
    t.join(s, keys, "full_outer").select(target.columns.toSeq.map { c =>
      if (keys.contains(c)) col(c)
      else when(stagingWins, col(s"__s_$c")).otherwise(col(s"__t_$c")).as(c)
    }: _*)
  }

  /** M2 — append-if-absent (immutable facts): insert keys not present, never
    * update (`SP_boto3_connect_redshift.sql:15-26`). Within-batch duplicates
    * keep the EARLIEST `ordering` row (deterministic "first writer wins",
    * D1) — `dropDuplicates` would pick an arbitrary survivor per run. */
  def appendIfAbsent(target: DataFrame, staging: DataFrame,
                     keys: Seq[String], ordering: String,
                     tiebreak: Seq[Column] = Nil): DataFrame = {
    val fresh = keepFirst(staging, keys, ordering, tiebreak)
      .join(target.select(keys.map(col): _*), keys, "left_anti")
    target.unionByName(fresh.select(target.columns.map(col): _*))
  }

  /** M1 at warehouse scale — partition-wise SCD1 merge against a
    * partitioned parquet target: only the partitions the staging batch
    * touches are read (static partition pruning on collected literals) and
    * rewritten (dynamic partition overwrite). A 100 TB fact partitioned by
    * date merges a daily batch by rewriting a handful of partitions, not
    * the table. Requires `partitionCol` to be IMMUTABLE per key (e.g.
    * creation date) — if an update could move a key across partitions, the
    * stale copy in the old partition would survive. The pruned target is
    * scanned once, by [[scd1]]'s full-outer join.
    *
    * The distinct-partition collect is driver-side by design: it is one
    * value per touched partition (bounded by the batch's date span), and
    * literal predicates are what static partition pruning needs. */
  def scd1Partitioned(targetPath: String, staging: DataFrame,
                      keys: Seq[String], ordering: String,
                      partitionCol: String): Unit = {
    val spark = staging.sparkSession
    val touched = staging.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    // explicit existence check: a transient READ failure must propagate,
    // never be mistaken for "first write" (that would overwrite touched
    // partitions with staging-only data)
    val p = new org.apache.hadoop.fs.Path(targetPath)
    val targetExists =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    val merged =
      if (!targetExists) keepLatest(staging, keys, ordering)
      else {
        // NULL partition values land in __HIVE_DEFAULT_PARTITION__, which
        // dynamic overwrite rewrites like any other — but isin() never
        // matches NULL, so the null partition's existing rows must be
        // pulled in explicitly or they'd be replaced by staging-only rows.
        val (nullTouched, nonNull) = touched.partition(_ == null)
        val pruneCond =
          if (nullTouched.isEmpty) col(partitionCol).isin(nonNull: _*)
          else if (nonNull.isEmpty) col(partitionCol).isNull
          else col(partitionCol).isin(nonNull: _*) || col(partitionCol).isNull
        val pruned = spark.read.parquet(targetPath).filter(pruneCond)
        scd1(pruned, staging.select(pruned.columns.map(col): _*),
          keys, ordering)
      }
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(targetPath)
  }

  /** M1 at warehouse scale, key-hash flavor: the target lives as a BUCKETED
    * parquet table (`bucketBy(nBuckets, keys)`), i.e. pre-shuffled ON DISK
    * by the merge key. Every merge then shuffles only the incoming batch
    * into that bucketing — the 100 TB target is read bucket-aligned with
    * NO exchange on its side of the merge join, and downstream key-equi
    * joins between bucketed tables run exchange-free (see MergeSpec's
    * zero-Exchange assertion). Complements [[scd1Partitioned]] (time-pruned
    * rewrite) for targets whose updates scatter across the key space so no
    * partition column can bound the rewrite.
    *
    * The rewrite goes through a temp table + catalog rename because Spark
    * cannot overwrite a table that is being read in the same plan.
    *
    * CONCURRENCY: the DROP -> RENAME swap leaves a window in which `table`
    * does not resolve — a concurrent reader during a merge can fail with
    * table-not-found (writer crashes ARE recovered, see below; reader
    * visibility is not). Run merges in the pipeline's single writer slot
    * (the reference's SP runs inside a Redshift transaction for the same
    * reason), or front the table with a view/alias flipped after the swap
    * (CREATE OR REPLACE VIEW over generation tables) when readers must
    * never observe the gap. */
  def scd1Bucketed(table: String, staging: DataFrame, keys: Seq[String],
                   ordering: String, nBuckets: Int = 256): Unit = {
    val spark = staging.sparkSession
    def writeBucketed(df: DataFrame, name: String): Unit =
      df.write.bucketBy(nBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .mode("overwrite").format("parquet").saveAsTable(name)
    val tmp = table + "__merge_tmp"
    // crash recovery from a previously interrupted swap — without this, a
    // death between DROP and RENAME leaves no `table`, and the next run
    // would silently rebuild it from staging alone, losing the target:
    //  - tmp exists AND table exists: crashed before DROP; the target is
    //    intact and that merge never committed -> discard tmp, redo.
    //  - tmp exists, table missing: crashed after DROP; tmp IS the
    //    committed merge -> complete the rename, then merge on top.
    if (spark.catalog.tableExists(tmp)) {
      if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $tmp")
      else spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    }
    if (!spark.catalog.tableExists(table)) {
      writeBucketed(keepLatest(staging, keys, ordering), table)
    } else {
      val target = spark.table(table)
      // the batch is shuffled once, straight into the target's bucketing:
      // keep-latest and the merge join both reuse that partitioning, so the
      // target's scan stays bucket-aligned whatever the shuffle partitions
      val batch = staging.select(target.columns.map(col): _*)
        .repartition(nBuckets, keys.map(col): _*)
      val merged = scd1(target, batch, keys, ordering)
      writeBucketed(merged, tmp)
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    }
  }

  /** M3 — conditional-column merge: update only when `matchedCond` holds for
    * a matched key (goal changed — `lambda_legal_goals_upsert.py:48-59`);
    * insert when the key is absent. `matchedCond(src, tgt)` sees both sides. */
  def conditional(target: DataFrame, staging: DataFrame, keys: Seq[String],
                  matchedCond: (DataFrame, DataFrame) => Column): DataFrame = {
    val tgtKeys = target.select(keys.map(col): _*)
    val inserts = staging.join(tgtKeys, keys, "left_anti")
    val joined = staging.as("s").join(target.as("t"), keys, "inner")
    val updates = joined.filter(matchedCond(staging, target))
      .select(keys.map(col) ++
        staging.columns.filterNot(keys.contains).map(c => col("s." + c)): _*)
    val updatedKeys = updates.select(keys.map(col): _*)
    target.join(updatedKeys, keys, "left_anti")
      .unionByName(updates.select(target.columns.map(col): _*))
      .unionByName(inserts.select(target.columns.map(col): _*))
  }

  /** Snapshot diff: classify every key across two corpus versions as
    * `added` (key only in the new snapshot), `removed` (only in the old),
    * `changed` (both, content fingerprint differs) or `unchanged` — the
    * audit artifact an incremental pipeline publishes per run (what did
    * this batch actually do), and the precondition check before a
    * destructive swap (a diff that says "removed 40% of the corpus" stops
    * a bad deploy).
    *
    * ONE full-outer shuffle join on the key; content comparison is
    * null-safe (`<=>`: two NULL-text versions of a key are `unchanged`,
    * not `changed`). Fingerprints are [[graft.functions.TextFunctions
    * .fingerprint]] (md5 of normalized content) computed row-locally on
    * each side — at 100 TB the join moves 2 x (key + 32-byte hash), never
    * document bodies. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    def side(df: DataFrame, fp: String, mark: String) =
      df.select(col(idCol), T.fingerprint(col(textCol)).as(fp),
        lit(true).as(mark))
    side(oldSnap, "__ofp", "__in_old")
      .join(side(newSnap, "__nfp", "__in_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(coalesce(col("__in_old"), lit(false)) === false, "added")
          .when(coalesce(col("__in_new"), lit(false)) === false, "removed")
          .when(col("__ofp") <=> col("__nfp"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
