package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column/Expression seam.
  * Spark 4 wraps Column around ColumnNode and hides the Expression
  * constructor; custom Catalyst expressions (graft.functions.*Expr) need
  * exactly one call: wrap an Expression as a user-facing Column. Living in
  * a subpackage of org.apache.spark.sql grants `private[sql]` access —
  * the standard pattern for Catalyst-level extension libraries. */
object GraftGlue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `localCheckpoint(eager = true)` that DECLARES the produced layout:
    * the frame is hash-repartitioned on `keyCol` into `numPartitions`
    * and sorted within partitions, and the wrapping [[LogicalRDD]] is
    * rebuilt to CARRY that partitioning + ordering — which Spark's own
    * checkpoint drops under AQE (the eager execution goes through
    * AdaptiveSparkPlanExec, whose pre-execution outputPartitioning is
    * Unknown, so the LogicalRDD records nothing and every later join
    * against the cache re-exchanges and re-sorts it). The declaration
    * is truthful by construction: the checkpointed RDD's partition
    * boundaries and intra-partition order are exactly the repartition
    * + sort's (localCheckpoint copies rows partition-by-partition).
    * Use for a reference frame probed by many equi-joins per session
    * (the refresh loop's prior fingerprints): each join then
    * exchanges only its probe side. Release with
    * [[releaseCheckpoint]] as usual. */
  def checkpointWithLayout(df: org.apache.spark.sql.DataFrame,
                           keyCol: String,
                           numPartitions: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    val staged = df
      .repartition(numPartitions, df(keyCol))
      .sortWithinPartitions(keyCol)
      .localCheckpoint(true)
    val lr = staged.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.getOrElse(throw new IllegalStateException(
      "localCheckpoint did not produce a LogicalRDD"))
    val attr = lr.output.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"column $keyCol not in ${lr.output.map(_.name)}"))
    val declared = LogicalRDD(lr.output, lr.rdd,
      HashPartitioning(Seq(attr), numPartitions),
      Seq(SortOrder(attr, Ascending)),
      lr.isStreaming, lr.stream)(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic
        .SparkSession], None, None)
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic
        .SparkSession], declared)
  }

  /** Release the block-manager storage behind a `localCheckpoint(eager=true)`
    * Dataset. A checkpointed Dataset's plan is a [[LogicalRDD]] wrapping the
    * persisted internal RDD; `Dataset.unpersist` cannot reach it (it is not
    * in the cache manager), so iterative operators that checkpoint per round
    * would otherwise leak one round's blocks per iteration for the life of
    * the session. No-op on non-checkpointed frames. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => releaseRdd(l.rdd)
      case _ => ()
    }

  /** Unpersist ANY persistent RDD under the same scoped mute — for
    * between-query sweepers (Bench) that drop leftover
    * `localCheckpoint(eager=true)` blocks a query deliberately left
    * behind for its consumer (e.g. a result frame checkpointed so a gate
    * aggregation and the output dump share one materialization). The
    * drop is intentional cleanup, so the WARN is noise there exactly as
    * it is in [[releaseCheckpoint]]. */
  /** Flush the async listener bus so a caller counting job events (the
    * one-job `describe` spec) reads a complete count —
    * `SparkContext.listenerBus` is `private[spark]`, reachable only
    * through this bridge. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A file-source relation laid out like `like` (an opened
    * `spark.read.parquet` frame: same format, options, data and
    * partition schemas) over the directory `root`, whose leaf files the
    * caller has already listed as (path relative to `root`, length,
    * mtime). The file index is fed that listing and the schema is
    * `like`'s, so opening it runs no listing job and no schema job,
    * whatever the number of partition dirs. Hidden and `_`-prefixed
    * paths are skipped as Spark's own listing skips them. None when
    * `like` is not a plain file-source relation. */
  def openLike(like: org.apache.spark.sql.DataFrame, root: String,
               files: Seq[(String, Long, Long)])
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    val relation = like.queryExecution.analyzed match {
      case l: LogicalRelation => Some(l.relation)
      case _ => None
    }
    relation.collect { case h: HadoopFsRelation =>
      val spark = like.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val conf = spark.sessionState.newHadoopConfWithOptions(h.options)
      val raw = new Path(root)
      val fs = raw.getFileSystem(conf)
      val rootPath = fs.makeQualified(raw)
      val blockSize = fs.getDefaultBlockSize(rootPath)
      val leaves = files
        .filterNot(f => f._1.split('/').exists(
          org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName))
        .map { case (rel, len, mtime) =>
          new FileStatus(len, false, 1, blockSize, mtime,
            new Path(rootPath, rel))
        }.toArray
      val listed = new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
          if (p == rootPath) Some(leaves) else None
        def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, Seq(rootPath), h.options,
        Some(h.schema), listed)
      org.apache.spark.sql.classic.Dataset.ofRows(spark,
        LogicalRelation(h.copy(location = index)(spark)))
    }
  }

  def releaseRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    // Spark WARNs ("locally checkpointed ... cannot be recomputed after
    // unpersisting") on every such unpersist via the concrete RDD
    // class's logger (synchronously, before the async block drop). The
    // release is deliberate — the frame is dead by contract — so mute
    // that logger ONLY for the duration of the call and restore its
    // prior state after: the class (MapPartitionsRDD) backs nearly all
    // RDDs, so a permanent mute would swallow unrelated legitimate
    // WARNs for the rest of the JVM.
    val name = rdd.getClass.getName
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val conf = ctx.getConfiguration
    val hadExplicit = conf.getLoggerConfig(name).getName == name
    val prior =
      if (hadExplicit) conf.getLoggerConfig(name).getLevel else null
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      name, org.apache.logging.log4j.Level.ERROR)
    try rdd.unpersist(blocking = false)
    finally {
      if (hadExplicit)
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          name, prior)
      else { conf.removeLogger(name); ctx.updateLoggers() }
    }
  }
}
