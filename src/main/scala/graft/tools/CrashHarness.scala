package graft.tools

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StagedDrops
import graft.functions.{Bpe, BpeByteVocab}
import graft.operators.Dedup
import graft.streaming.{RefreshPipeline, ShardSink, VectorIndexSink}

/** Real crash injection for the refresh chain. The pipeline's crash
  * windows are PROVEN by constructed poisoned states (rolled-back
  * commits, pre-published ledgers — RefreshPipelineSpec,
  * StoreRootSpec); those prove the windows we thought of. This harness
  * finds the ones we didn't: it runs the full cross-store drain
  * ([[RefreshPipeline.run]]: exact/near/decontam tiers, BPE pack,
  * shard store, vector index, fingerprint ledger, streaming
  * checkpoint) in a SEPARATE JVM and SIGKILLs it at a randomized point
  * of the drain, then heals in a second session (q174's two-session
  * shape: same stores, same checkpoint) and gates the final state on
  * the one-shot batch chain's oracle — equivalence of the served id
  * set, shard-store token mass, and the ledger fingerprint set
  * (RefreshScale's contracts, verbatim).
  *
  * Kill points are stratified across the drain window (plus seeded
  * jitter), so across `kills` iterations the SIGKILL lands in every
  * stage of the store -> index -> ledger -> checkpoint sequence, not
  * just wherever a uniform draw clusters. A kill that lands after the
  * child finished is recorded (interrupted=false) but still gated —
  * the harness requires that at least half the kills actually
  * interrupted the drain, or the evidence is vacuous.
  *
  * Child JVM: plain `java` against the compiled classes + the Spark
  * jars (the same --add-opens set build.sbt forks with), its Spark
  * scratch under the iteration dir so a kill never litters /tmp.
  *
  * MANAGED mode points the same killer at [[RefreshPipeline.runManaged]]
  * — generation-managed [[graft.streaming.StoreRoot]] roots with
  * OUT-OF-BAND compaction ON SCHEDULE inside the drain (compactEvery =
  * 2, q175's shape; folds run on a background thread, the top-up +
  * swap + retire at trigger boundaries) — so SIGKILLs land in the
  * windows only constructed states proved before: mid-fold (now
  * spanning whole triggers, so even timers sample it), between
  * fold-commit and manifest swap, and between swap and retire (polled
  * for specifically, with the child's swap->retire gap widened by the
  * test-only retire delay — naturally it is sub-ms and no sampler ever
  * hit it). The parent classifies each kill's landing from POST-KILL
  * DISK FORENSICS (a gen N+1 dir with the manifest still at N =
  * pre-swap / mid-fold; an unretired gen N-1 behind a manifest at N =
  * swap-no-retire), heals with a second `runManaged` over the same
  * checkpoint, and gates the healed roots on the identical one-shot
  * oracle — plus requires that across the run at least one kill landed
  * INSIDE a compaction window and at least two inside swap-no-retire,
  * or the managed evidence is vacuous.
  *
  * TIERED mode is MANAGED mode with `tierFanout = 2` size-tiered
  * folds (a compaction point every trigger): the kill mix and oracle
  * gates are identical, but the polled windows are the TIER machine's
  * (fold staging / committed-unreferenced `u` run = pre-swap; a
  * referenced `t` run whose covered sources are still on disk =
  * swap-no-retire), so the adopt/sweep heals get SIGKILL coverage of
  * their own.
  *
  * Usage: runMain graft.tools.CrashHarness [kills] [outFile]
  *        runMain graft.tools.CrashHarness managed [kills] [outFile]
  *        runMain graft.tools.CrashHarness tiered [kills] [outFile]
  *        runMain graft.tools.CrashHarness double [kills] [outFile]
  *        runMain graft.tools.CrashHarness child <base> <prior> <triggers> <batchRows>
  *        runMain graft.tools.CrashHarness childManaged <base> <prior> <triggers> <batchRows> <compactEvery>
  *        runMain graft.tools.CrashHarness childTiered <base> <prior> <triggers> <batchRows> <compactEvery> <fanout>
  */
object CrashHarness {

  /** `killedAtMs` is the measured time from drain-start to SIGKILL —
    * for timer kills it equals the requested offset by construction,
    * for poll-triggered kills it is the observed poll latency (one
    * quantity, one name — not a requested offset the poll never had). */
  final case class KillReport(kill: Int, killedAtMs: Long,
                              interrupted: Boolean, childExit: Int,
                              healDrainS: Double, equivalence: Boolean,
                              mass: Boolean, ledger: Boolean,
                              started: Boolean = true,
                              window: String = "n/a",
                              genAfterHeal: Long = -1L,
                              trigger: String = "timer")

  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Stage one iteration's fixtures under `base`: seeded stores
    * ([[StagedDrops.seedPrior]]) and the child's stream, one drop per
    * trigger in id order ([[StagedDrops.stage]]'s layout). Also
    * computes the one-shot oracle digests the heal is gated on.
    * Returns (expected-id digest, expected mass, expected ledger
    * digest). */
  private def stage(spark: SparkSession, base: Path, prior: Long,
                    triggers: Int, batchRows: Long,
                    managed: Boolean = false)
      : ((Long, Long), Long, (Long, Long)) = {
    val d = RefreshScale.priorDocs(spark, prior).localCheckpoint(true)
    val bench = RefreshScale.benchDocs(spark).localCheckpoint(true)
    val n = triggers * batchRows
    val all = RefreshScale.streamDocs(spark, prior, n, batchRows)
      .localCheckpoint(true)
    try {
      // managed mode seeds GENERATION 0 of each root (the runManaged
      // caller contract); unmanaged seeds plain store dirs
      val (storeDir, ixDir) =
        if (!managed) (s"$base/store", s"$base/ix")
        else (graft.streaming.StoreRoot.init(s"$base/shardRoot"),
          graft.streaming.StoreRoot.init(s"$base/ixRoot"))
      StagedDrops.seedPrior(d, storeDir, Some(ixDir))
      RefreshScale.stageDrops(all, s"$base/docs", triggers, batchRows)
      // the one-shot batch chain — the heal's oracle
      val expected = Dedup.ngramDecontaminate(
          Dedup.nearIncremental(
            Dedup.exactIncremental(all.select(col("doc_id"),
              col("source"), col("text")), d, "text", "doc_id"),
            d, "text", "doc_id", numHashes = 32, bands = 8,
            threshold = 0.8, mode = Dedup.Portable),
          bench, "text", "doc_id", n = 5, minMatches = 2)
        .filter(!col("contaminated"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true)
      try {
        val mass = (df: DataFrame) => df.select(
            size(Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
              .cast("long").as("__m"))
          .agg(coalesce(sum(col("__m")), lit(0L)))
          .collect()(0).getLong(0)
        (RefreshScale.setDigest(expected, col("doc_id")),
          mass(d) + mass(expected),
          RefreshScale.setDigest(expected,
            graft.functions.TextFunctions.fingerprint(col("text"))))
      } finally org.apache.spark.sql.graftglue.GraftGlue
        .releaseCheckpoint(expected)
    } finally {
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(d)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(bench)
      org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(all)
    }
  }

  /** CHILD entry: drain until killed. Prints `drain-start` so the
    * parent can time its SIGKILL inside the drain window. The managed
    * variant drives [[RefreshPipeline.runManaged]] with compaction on
    * schedule, so the kill can land inside a fold/swap/retire. */
  private def childMain(base: String, prior: Long, triggers: Int,
                        batchRows: Long,
                        compactEvery: Option[Int],
                        tierFanout: Option[Int] = None): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      // the managed drain's out-of-band folds run in their own
      // scheduler pool (StoreRoot.FoldSchedulerPool) - FAIR keeps them
      // from head-of-line-blocking the trigger's jobs, same as the
      // measured drains
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$base/child-scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = RefreshScale.priorDocs(spark, prior).localCheckpoint(true)
    val bench = RefreshScale.benchDocs(spark).localCheckpoint(true)
    val stream = StagedDrops.open(spark, s"$base/docs")
    println("[crash-child] drain-start")
    System.out.flush()
    compactEvery match {
      case Some(ce) =>
        RefreshPipeline.runManaged(stream, d, bench,
          shardRoot = s"$base/shardRoot", ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck", compactEvery = ce,
          indexRoot = Some(s"$base/ixRoot"), tierFanout = tierFanout)
      case None =>
        RefreshPipeline.run(stream, d, bench,
          storeDir = s"$base/store", ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck", indexDir = Some(s"$base/ix"))
    }
    println("[crash-child] drain-done")
    System.out.flush()
    spark.stop()
  }

  /** POST-KILL disk forensics: where inside the compact-swap-retire
    * state machine the kill froze `root`. A committed-or-partial next
    * generation with the manifest still naming the current one is the
    * fold/pre-swap window; a swapped manifest with the predecessor
    * still unretired is the swap-retire window; anything else reads as
    * no compaction in flight. Read BEFORE the heal (which consumes
    * these states). */
  private[graft] def compactionWindow(root: String): String = {
    import graft.streaming.{StoreFiles, StoreRoot}
    val g = StoreRoot.currentGen(root)
    val next = new java.io.File(root, s"gen${g + 1}")
    val prev = new java.io.File(root, s"gen${g - 1}")
    if (next.exists()) "pre-swap"
    else if (g > 0 && prev.isDirectory &&
        StoreFiles.retiredTo(prev.getAbsolutePath).isEmpty)
      "swap-no-retire"
    else "none"
  }

  /** [[compactionWindow]]'s twin for the SIZE-TIERED machine: a fold
    * staging dir or committed-unreferenced `u` run = `pre-swap`; a
    * referenced run whose covered sources are still on disk =
    * `swap-no-retire`. Tries both stores' classifiers (a shard layout
    * reads `none` under the vector classifier and vice versa), rarest
    * window first. */
  private[graft] def tieredCompactionWindow(root: String): String = {
    import graft.streaming.{ShardSink, StoreRoot, VectorIndexSink}
    val dir = StoreRoot.currentDir(root)
    val ws = Seq(ShardSink.tieredWindow(dir),
      VectorIndexSink.tieredWindow(dir))
    ws.find(_ == "swap-no-retire")
      .orElse(ws.find(_ != "none")).getOrElse("none")
  }

  /** One kill iteration: stage fresh fixtures, spawn the child, wait
    * for its drain-start marker, SIGKILL after `killAfterMs`, heal in
    * THIS session, gate on the staged oracle.
    *
    * `killOnFold` (managed only) arms an EVENT-triggered kill instead
    * of the timer: the parent polls the roots' on-disk compaction
    * signature (a generation dir beyond the manifest — the same
    * predicate [[compactionWindow]] classifies with) every few ms and
    * SIGKILLs the instant a state in `pollWindows` is observed.
    * Time-offset kills almost never land inside these windows at spec
    * scale (observed 0/8 in the first managed run), so the windows
    * this mode exists to hit get hit BY CONSTRUCTION; `killAfterMs`
    * becomes the poll deadline, after which the kill fires anyway
    * (classified honestly, possibly "none"). `pollWindows` narrows
    * the trigger: Set("swap-no-retire") kills only between the
    * manifest swap and the predecessor retire — paired with
    * `retireDelayMs`, which arms the child's test-only
    * `graft.test.retireDelayMs` sleep so that sub-ms gap is wide
    * enough for a 5 ms poll to land in deterministically. */
  def runOnce(spark: SparkSession, kill: Int, killAfterMs: Long,
              prior: Long, triggers: Int, batchRows: Long,
              compactEvery: Option[Int] = None,
              killOnFold: Boolean = false,
              pollWindows: Set[String] = Set("pre-swap",
                "swap-no-retire"),
              retireDelayMs: Option[Long] = None,
              tierFanout: Option[Int] = None): KillReport = {
    val managed = compactEvery.isDefined
    val base = Files.createTempDirectory(s"graft_crash_$kill-")
    try {
      val (expIds, expMass, expLedger) =
        stage(spark, base, prior, triggers, batchRows, managed)
      val (killedAtMs, interrupted, childExit, window) = spawnAndKill(
        base, prior, triggers, batchRows, compactEvery, killAfterMs,
        killOnFold, label = s"kill $kill", pollWindows = pollWindows,
        retireDelayMs = retireDelayMs, tierFanout = tierFanout)
      val (healS, equivalence, massOk, ledgerOk, gen) = healAndGate(
        spark, base, prior, compactEvery, expIds, expMass, expLedger,
        tierFanout = tierFanout)
      KillReport(kill, killedAtMs, interrupted, childExit, healS,
        equivalence, massOk, ledgerOk,
        started = true, window = window, genAfterHeal = gen,
        trigger = if (killOnFold) "fold-poll" else "timer")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(base.toFile)
    }
  }

  /** Spawn one drain child over `base`'s staged fixtures, SIGKILL it
    * after `killAfterMs` (or on the fold-poll, see [[runOnce]]), and
    * classify the landing from post-kill disk forensics. The SAME call
    * serves both the initial drain and — because resuming from the
    * checkpoint IS the heal — a heal that is itself to be killed
    * (the double-kill mode). Returns (killedAtMs, interrupted,
    * childExit, window). */
  private def spawnAndKill(base: Path, prior: Long, triggers: Int,
                           batchRows: Long, compactEvery: Option[Int],
                           killAfterMs: Long, killOnFold: Boolean,
                           label: String,
                           foldRoots: Seq[String] =
                             Seq("shardRoot", "ixRoot"),
                           pollWindows: Set[String] = Set("pre-swap",
                             "swap-no-retire"),
                           retireDelayMs: Option[Long] = None,
                           tierFanout: Option[Int] = None)
      : (Long, Boolean, Int, String) = {
    val managed = compactEvery.isDefined
    val tiered = tierFanout.isDefined
    def windowOf(root: String): String =
      if (tiered) tieredCompactionWindow(root)
      else compactionWindow(root)
    val classesDir = sys.props.get("graft.crash.classes")
      .getOrElse("target/scala-2.13/classes")
    val cmd = (Seq("java") ++ AddOpens ++ Seq("-Xmx8g",
      "-cp", s"$classesDir:/opt/spark/jars/*") ++
      // widen the child's swap->retire gap (test-only StoreRoot hook)
      // so the swap-no-retire poll has a window it can land in; the
      // parent's own heal never sees the property
      retireDelayMs.map(ms => s"-Dgraft.test.retireDelayMs=$ms") ++
      Seq("graft.tools.CrashHarness",
      if (tiered) "childTiered"
      else if (managed) "childManaged" else "child", base.toString,
      prior.toString, triggers.toString, batchRows.toString) ++
      compactEvery.map(_.toString) ++ tierFanout.map(_.toString))
    // a fresh log per spawn: the drain-start wait must see THIS
    // child's marker, not a predecessor's
    val log = new java.io.File(s"$base/child-$label.log"
      .replace(' ', '_'))
    val p = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
    // wait for the drain to actually begin (child JVM + session
    // startup is tens of seconds and must not eat the kill window)
    val startDeadline = System.nanoTime() + 180e9.toLong
    var started = false
    while (!started && p.isAlive && System.nanoTime() < startDeadline) {
      Thread.sleep(50)
      started = log.exists() &&
        new String(Files.readAllBytes(log.toPath))
          .contains("drain-start")
    }
    // a child that died (or hung) before drain-start is a STARTUP
    // failure, not crash evidence: the kill would land outside the
    // drain and the iteration would gate vacuously — fail loudly
    // instead of reporting it as a heal (ADVICE r13)
    require(started, s"child never reached drain-start within the " +
      s"startup deadline (alive=${p.isAlive}) - $label is not a " +
      "drain interruption; inspect " + log)
    val killedAtMs =
      if (!killOnFold) { Thread.sleep(killAfterMs); killAfterMs }
      else {
        // poll the roots for a `pollWindows` state in flight; the
        // observable span is fold duration + the swap->retire gap
        // (widened by retireDelayMs when that gap is the target), so a
        // ~5ms poll beats the stratified-timer lottery deterministically
        val t0 = System.nanoTime()
        val deadline = t0 + killAfterMs * 1000000L
        // `foldRoots` narrows the watch: the shard root folds first
        // within a trigger, so watching only ixRoot lands the kill in
        // the INDEX root's fold/swap machine specifically
        var seen = false
        while (!seen && p.isAlive && System.nanoTime() < deadline) {
          Thread.sleep(5)
          seen = foldRoots.exists(r =>
            pollWindows.contains(windowOf(s"$base/$r")))
        }
        (System.nanoTime() - t0) / 1000000L
      }
    val interrupted = p.isAlive
    p.destroyForcibly()
    val childExit = { p.waitFor(); p.exitValue() }
    // managed: classify the kill's landing inside the compact-swap-
    // retire machine BEFORE the heal consumes the frozen state.
    // swap-no-retire wins over pre-swap across roots: with out-of-band
    // folds a sibling root is often mid-fold while THIS root sleeps in
    // its widened swap->retire gap, and the rarer window must not be
    // masked by the commoner one
    val window =
      if (!managed) "n/a"
      else {
        val ws = Seq(
          "shard" -> windowOf(s"$base/shardRoot"),
          "index" -> windowOf(s"$base/ixRoot"))
        ws.find(_._2 == "swap-no-retire")
          .orElse(ws.find(_._2 != "none"))
          .map { case (r, w) => s"$r:$w" }
          .getOrElse("none")
      }
    (killedAtMs, interrupted, childExit, window)
  }

  /** HEAL in THIS session (same stores, same checkpoint) and gate the
    * final state on the staged one-shot oracle. Returns (healWallS,
    * idEquivalence, massMatch, ledgerMatch, genAfterHeal). */
  private def healAndGate(spark: SparkSession, base: Path, prior: Long,
                          compactEvery: Option[Int], expIds: (Long, Long),
                          expMass: Long, expLedger: (Long, Long),
                          tierFanout: Option[Int] = None)
      : (Double, Boolean, Boolean, Boolean, Long) = {
    val managed = compactEvery.isDefined
    val tHeal = System.nanoTime()
    val d = RefreshScale.priorDocs(spark, prior)
    val bench = RefreshScale.benchDocs(spark)
    val stream = StagedDrops.open(spark, s"$base/docs")
    compactEvery match {
      case Some(ce) =>
        RefreshPipeline.runManaged(stream, d, bench,
          shardRoot = s"$base/shardRoot", ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck", compactEvery = ce,
          indexRoot = Some(s"$base/ixRoot"), tierFanout = tierFanout)
      case None =>
        RefreshPipeline.run(stream, d, bench,
          storeDir = s"$base/store", ledgerDir = s"$base/ledger",
          checkpointDir = s"$base/ck", indexDir = Some(s"$base/ix"))
    }
    val healS = (System.nanoTime() - tHeal) / 1e9
    // the q174 oracle gates (managed: served THROUGH the roots, so
    // the manifest/retire state the kill left is itself under test)
    val served = (if (managed)
        graft.streaming.StoreRoot.readVectors(spark,
          s"$base/ixRoot", idCol = "doc_id")
      else VectorIndexSink.read(spark, s"$base/ix", idCol = "doc_id"))
      .encoded.select(col("doc_id")).filter(col("doc_id") >= prior)
    val equivalence =
      RefreshScale.setDigest(served, col("doc_id")) == expIds
    val storeTokens = (if (managed)
        graft.streaming.StoreRoot.readShard(spark, s"$base/shardRoot")
      else ShardSink.read(spark, s"$base/store"))
      .agg(sum(col("n_tokens").cast("long"))).collect()(0).getLong(0)
    val ledger = spark.read.parquet(
      RefreshPipeline.ledgerLeafPaths(
        graft.streaming.StoreFiles.publishedDirs(s"$base/ledger", "b",
          graft.streaming.StoreFiles.hasLedgerParquet).map(_._2),
        None): _*)
    val ledgerOk =
      RefreshScale.setDigest(ledger, col("__pfp")) == expLedger
    val gen = if (!managed) -1L
      else graft.streaming.StoreRoot.currentGen(s"$base/shardRoot")
    (healS, equivalence, storeTokens == expMass, ledgerOk, gen)
  }

  final case class DoubleKillReport(kill: Int,
                                    kill1Ms: Long, window1: String,
                                    interrupted1: Boolean, exit1: Int,
                                    kill2Ms: Long, window2: String,
                                    interrupted2: Boolean, exit2: Int,
                                    trigger2: String,
                                    healDrainS: Double,
                                    equivalence: Boolean, mass: Boolean,
                                    ledger: Boolean, genAfterHeal: Long)

  /** One DOUBLE-kill iteration: SIGKILL the drain, then SIGKILL the
    * HEAL mid-flight, then heal a third time and gate on the one-shot
    * oracle. The single-kill mode proves a crash-then-recover story;
    * this proves the recovery is ITSELF crash-safe — the second kill
    * lands on a child that is replaying a half-committed trigger over
    * stores the first kill already left mid-write (compaction state
    * machine included), the exact state a production restart loop
    * visits when a node dies twice. Kill 1 is fold-triggered (the
    * frozen fold forces the heal to resume-or-redo it at its next
    * compaction point — the hardest restart state); kill 2 alternates
    * timer / fold-poll per iteration so both the replay stages and
    * the heal's OWN folds get hit. */
  def runDouble(spark: SparkSession, kill: Int, kill2AfterMs: Long,
                kill2OnFold: Boolean, prior: Long, triggers: Int,
                batchRows: Long, compactEvery: Int,
                kill1Roots: Seq[String] = Seq("shardRoot", "ixRoot"))
      : DoubleKillReport = {
    val base = Files.createTempDirectory(s"graft_crash2_$kill-")
    try {
      val (expIds, expMass, expLedger) =
        stage(spark, base, prior, triggers, batchRows, managed = true)
      val (k1Ms, int1, exit1, w1) = spawnAndKill(
        base, prior, triggers, batchRows, Some(compactEvery),
        killAfterMs = 60000L, killOnFold = true,
        label = s"kill${kill}a", foldRoots = kill1Roots)
      val (k2Ms, int2, exit2, w2) = spawnAndKill(
        base, prior, triggers, batchRows, Some(compactEvery),
        kill2AfterMs, kill2OnFold, label = s"kill${kill}b")
      val (healS, equivalence, massOk, ledgerOk, gen) = healAndGate(
        spark, base, prior, Some(compactEvery), expIds, expMass,
        expLedger)
      DoubleKillReport(kill, k1Ms, w1, int1, exit1, k2Ms, w2, int2,
        exit2, trigger2 = if (kill2OnFold) "fold-poll" else "timer",
        healDrainS = healS, equivalence = equivalence, mass = massOk,
        ledger = ledgerOk, genAfterHeal = gen)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(base.toFile)
    }
  }

  /** Stratified kill offsets across [0, windowMs), seeded jitter. */
  private[graft] def killOffsets(kills: Int, windowMs: Long,
                                 seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    (0 until kills).map { i =>
      val lo = windowMs * i / kills
      val hi = windowMs * (i + 1) / kills
      lo + (rnd.nextDouble() * (hi - lo)).toLong
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) {
      childMain(args(1), args(2).toLong, args(3).toInt, args(4).toLong,
        compactEvery = None)
      return
    }
    if (args.headOption.contains("childManaged")) {
      childMain(args(1), args(2).toLong, args(3).toInt, args(4).toLong,
        compactEvery = Some(args(5).toInt))
      return
    }
    if (args.headOption.contains("childTiered")) {
      childMain(args(1), args(2).toLong, args(3).toInt, args(4).toLong,
        compactEvery = Some(args(5).toInt),
        tierFanout = Some(args(6).toInt))
      return
    }
    if (args.headOption.contains("managed")) { managedMain(args); return }
    if (args.headOption.contains("tiered")) {
      managedMain(args, tierFanout = Some(2)); return
    }
    if (args.headOption.contains("double")) { doubleMain(args); return }
    val kills = args.headOption.map(_.toInt).getOrElse(8)
    val out = args.lift(1).getOrElse("CRASH_HARNESS.json")
    val (prior, triggers, batchRows) = (2000L, 8, 400L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.driver.memory", "48g")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.scheduler.mode", "FAIR") // heals fold out-of-band
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the kill window spans the child's expected drain wall; stratified
    // offsets walk it start to end so every stage of the
    // store -> index -> ledger -> checkpoint sequence gets hit
    val windowMs = sys.env.get("GRAFT_CRASH_WINDOW_MS")
      .map(_.toLong).getOrElse(30000L)
    val reports = killOffsets(kills, windowMs, seed = 13L)
      .zipWithIndex.map { case (off, i) =>
        val r = runOnce(spark, i, off, prior, triggers, batchRows)
        println(f"[crash] kill=$i afterMs=$off interrupted=" +
          f"${r.interrupted} exit=${r.childExit} heal=${r.healDrainS}%.1fs " +
          f"eq=${r.equivalence} mass=${r.mass} ledger=${r.ledger}")
        require(r.equivalence && r.mass && r.ledger,
          s"heal diverged from the one-shot oracle at kill $i " +
            s"(afterMs=$off interrupted=${r.interrupted})")
        r
      }
    val nInterrupted = reports.count(_.interrupted)
    require(nInterrupted * 2 >= kills,
      s"only $nInterrupted/$kills kills interrupted the drain - " +
        "widen GRAFT_CRASH_WINDOW_MS or the evidence is vacuous")
    val rows = reports.map(r =>
      s"""{"kill":${r.kill},"killed_at_ms":${r.killedAtMs},""" +
        s""""interrupted":${r.interrupted},"child_exit":${r.childExit},""" +
        f""""heal_drain_s":${r.healDrainS}%.1f,""" +
        s""""equivalence":${r.equivalence},"mass":${r.mass},""" +
        s""""ledger":${r.ledger}}""")
    val json = s"""{"recipe":"SIGKILL a separate-JVM refresh drain at """ +
      s"""stratified offsets, heal in a second session, gate on the """ +
      s"""one-shot oracle (q174 shape)","kills":$kills,""" +
      s""""prior":$prior,"triggers":$triggers,"batch_rows":$batchRows,""" +
      s""""window_ms":$windowMs,"interrupted":$nInterrupted,""" +
      s""""all_heals_match_oracle":true,""" +
      s""""reports":[${rows.mkString(",")}]}\n"""
    Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[crash] wrote $out ($nInterrupted/$kills interrupted, " +
      "all heals == oracle)")
    spark.stop()
  }

  /** MANAGED-path harness (see the class doc): SIGKILL a separate-JVM
    * `runManaged` drain (compactEvery = 2 — four scheduled out-of-band
    * compaction cycles across 8 triggers), classify each kill's
    * landing from post-kill disk forensics, heal with a second
    * `runManaged`, gate the healed ROOTS on the one-shot oracle. The
    * kill mix walks all three ways into the machine: timer-stratified
    * kills across the drain (the unmanaged harness's shape — they
    * exercise the between-compaction store/index/ledger/checkpoint
    * stages, and with out-of-band folds they now also sample mid-fold
    * states for free); FOLD-TRIGGERED kills ([[runOnce]]'s
    * `killOnFold`) that poll the roots' on-disk compaction signature
    * and kill the instant a fold/pre-swap state is observed; and
    * SWAP-TRIGGERED kills that poll for the `swap-no-retire` state
    * specifically, with the child's swap->retire gap widened by the
    * test-only retire delay — that gap is sub-ms naturally, so before
    * this leg every in-window kill had landed pre-swap and the
    * classifier's rarest state had only constructed-state coverage.
    * Evidence gates: every heal matches, >= half the kills interrupted
    * the drain, at least one kill landed INSIDE a compaction window,
    * and at least two landed in `swap-no-retire`. */
  private def managedMain(args: Array[String],
                          tierFanout: Option[Int] = None): Unit = {
    val kills = args.lift(1).map(_.toInt).getOrElse(8)
    val out = args.lift(2).getOrElse(
      if (tierFanout.isDefined) "CRASH_TIERED.json"
      else "CRASH_MANAGED.json")
    // tiered mode schedules a compaction point EVERY trigger (tier
    // folds are cheap and frequent by design — more cycles means more
    // windows for the poll to land in); fanout 2 escalates tiers fast
    // so high-tier folds and adoption heals both get hit
    val (prior, triggers, batchRows) = (2000L, 8, 400L)
    val compactEvery = if (tierFanout.isDefined) 1 else 2
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.driver.memory", "48g")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.scheduler.mode", "FAIR") // heals fold out-of-band
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the managed drain is longer than the plain one (four in-drain
    // compaction cycles), so the default window is wider
    val windowMs = sys.env.get("GRAFT_CRASH_WINDOW_MS")
      .map(_.toLong).getOrElse(45000L)
    // kill mix: ~quarter swap-targeted (min 2 — the gate below), the
    // rest split between stratified timers and fold polls
    val nSwap = if (kills >= 4) math.max(2, kills / 4) else 0
    val nTimer = (kills - nSwap + 1) / 2
    sealed trait Mode; case object Timer extends Mode
    case object FoldPoll extends Mode; case object SwapPoll extends Mode
    val plan: Seq[(Int, Long, Mode)] =
      killOffsets(nTimer, windowMs, seed = 14L)
        .zipWithIndex.map { case (off, i) => (i, off, Timer: Mode) } ++
      (nTimer until (kills - nSwap))
        .map(i => (i, windowMs, FoldPoll: Mode)) ++
      ((kills - nSwap) until kills)
        .map(i => (i, windowMs * 2, SwapPoll: Mode))
    val reports = plan.map { case (i, off, mode) =>
      val r = runOnce(spark, i, off, prior, triggers, batchRows,
        compactEvery = Some(compactEvery),
        killOnFold = mode != Timer,
        pollWindows = if (mode == SwapPoll) Set("swap-no-retire")
          else Set("pre-swap", "swap-no-retire"),
        retireDelayMs = if (mode == SwapPoll) Some(1500L) else None,
        tierFanout = tierFanout)
      println(f"[crash] managed kill=$i trigger=${r.trigger} " +
        f"mode=$mode killedAtMs=${r.killedAtMs} interrupted=" +
        f"${r.interrupted} exit=${r.childExit} window=${r.window} " +
        f"heal=${r.healDrainS}%.1fs eq=${r.equivalence} " +
        f"mass=${r.mass} ledger=${r.ledger} gen=${r.genAfterHeal}")
      require(r.equivalence && r.mass && r.ledger,
        s"managed heal diverged from the one-shot oracle at kill $i " +
          s"(killedAtMs=${r.killedAtMs} window=${r.window})")
      (r, mode)
    }
    val nInterrupted = reports.count(_._1.interrupted)
    require(nInterrupted * 2 >= kills,
      s"only $nInterrupted/$kills kills interrupted the drain - " +
        "widen GRAFT_CRASH_WINDOW_MS or the evidence is vacuous")
    val nInWindow = reports.count(_._1.window != "none")
    require(nInWindow >= 1,
      s"no kill landed inside a compaction window across $kills " +
        "iterations - reseed/widen, the managed evidence needs the " +
        "fold/swap/retire windows hit")
    val nSwapHit =
      reports.count(_._1.window.endsWith("swap-no-retire"))
    require(nSwap == 0 || nSwapHit >= math.min(2, nSwap),
      s"only $nSwapHit kills landed in the swap-no-retire window " +
        s"with $nSwap swap-targeted polls armed - the swap->retire " +
        "gap went unhit in-run")
    val rows = reports.map { case (r, mode) =>
      s"""{"kill":${r.kill},"kill_trigger":"${r.trigger}",""" +
        s""""kill_mode":"${mode.toString.toLowerCase}",""" +
        s""""killed_at_ms":${r.killedAtMs},""" +
        s""""interrupted":${r.interrupted},"child_exit":${r.childExit},""" +
        s""""compaction_window":"${r.window}",""" +
        f""""heal_drain_s":${r.healDrainS}%.1f,""" +
        s""""equivalence":${r.equivalence},"mass":${r.mass},""" +
        s""""ledger":${r.ledger},"gen_after_heal":${r.genAfterHeal}}"""
    }
    val what = tierFanout match {
      case Some(k) => s"SIZE-TIERED compaction (tierFanout=$k, a " +
        s"point every trigger; windows: fold staging / committed-" +
        s"unreferenced u-run = pre-swap, referenced run with covered " +
        s"sources on disk = swap-no-retire)"
      case None => "out-of-band compaction every 2 triggers"
    }
    val json = s"""{"recipe":"SIGKILL a separate-JVM runManaged drain """ +
      s"""(StoreRoot shard+index roots, $what); kills split """ +
      s"""timer-stratified / fold-poll """ +
      s"""(kill the instant a fold is in flight) / swap-poll (kill """ +
      s"""inside the swap-no-retire gap, widened by the test-only """ +
      s"""retire delay); classify each landing from post-kill """ +
      s"""disk forensics; heal with a second runManaged; gate the """ +
      s"""healed roots on the one-shot oracle (q175 shape)",""" +
      s""""kills":$kills,"prior":$prior,"triggers":$triggers,""" +
      s""""batch_rows":$batchRows,"compact_every":$compactEvery,""" +
      tierFanout.fold("")(k => s""""tier_fanout":$k,""") +
      s""""window_ms":$windowMs,"interrupted":$nInterrupted,""" +
      s""""kills_inside_compaction_window":$nInWindow,""" +
      s""""swap_no_retire_kills":$nSwapHit,""" +
      s""""all_heals_match_oracle":true,""" +
      s""""reports":[${rows.mkString(",")}]}\n"""
    Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[crash] wrote $out ($nInterrupted/$kills interrupted, " +
      s"$nInWindow in a compaction window, $nSwapHit swap-no-retire, " +
      "all heals == oracle)")
    spark.stop()
  }

  /** DOUBLE-kill harness (see [[runDouble]]): kill the managed drain
    * inside its first fold, kill the HEAL mid-flight, heal again, gate
    * on the one-shot oracle. Evidence gates: every final heal matches;
    * >= half the iterations had BOTH kills actually interrupt a live
    * child; at least one second kill landed inside a compaction
    * window (the heal replaying or re-running a fold). */
  private def doubleMain(args: Array[String]): Unit = {
    val kills = args.lift(1).map(_.toInt).getOrElse(6)
    val out = args.lift(2).getOrElse("CRASH_DOUBLE.json")
    val (prior, triggers, batchRows, compactEvery) = (2000L, 8, 400L, 2)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.driver.memory", "48g")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.scheduler.mode", "FAIR") // heals fold out-of-band
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the heal child has less work left than the original drain, so
    // its timer window is narrower than managedMain's
    val windowMs = sys.env.get("GRAFT_CRASH_WINDOW_MS")
      .map(_.toLong).getOrElse(25000L)
    val offsets = killOffsets(kills, windowMs, seed = 15L)
    val reports = (0 until kills).map { i =>
      // alternate the SECOND kill: timer (stratified across the heal)
      // vs fold-poll (the heal's own / replayed fold); every third
      // FIRST kill watches only the index root, so the index fold's
      // windows (the shard root folds first and would otherwise always
      // win the poll) get frozen-then-heal-killed too
      val onFold = i % 2 == 1
      val k1Roots =
        if (i % 3 == 2) Seq("ixRoot") else Seq("shardRoot", "ixRoot")
      val r = runDouble(spark, i,
        kill2AfterMs = if (onFold) windowMs * 2 else offsets(i),
        kill2OnFold = onFold, prior, triggers, batchRows, compactEvery,
        kill1Roots = k1Roots)
      println(f"[crash] double kill=$i k1=${r.kill1Ms}ms w1=${r.window1} " +
        f"int1=${r.interrupted1} k2=${r.kill2Ms}ms(${r.trigger2}) " +
        f"w2=${r.window2} int2=${r.interrupted2} " +
        f"heal=${r.healDrainS}%.1fs eq=${r.equivalence} mass=${r.mass} " +
        f"ledger=${r.ledger} gen=${r.genAfterHeal}")
      require(r.equivalence && r.mass && r.ledger,
        s"double-kill heal diverged from the one-shot oracle at " +
          s"iteration $i (w1=${r.window1} w2=${r.window2})")
      r
    }
    val bothInterrupted =
      reports.count(r => r.interrupted1 && r.interrupted2)
    require(bothInterrupted * 2 >= kills,
      s"only $bothInterrupted/$kills iterations had both kills land " +
        "on a live child - widen GRAFT_CRASH_WINDOW_MS or the " +
        "double-kill evidence is vacuous")
    val k2InWindow = reports.count(_.window2 != "none")
    require(k2InWindow >= 1,
      "no second kill landed inside a compaction window - the " +
        "kill-during-heal evidence needs the heal's fold windows hit")
    val ixTargeted = (0 until kills).count(_ % 3 == 2)
    val ixFrozen = reports.count(_.window1.startsWith("index:"))
    require(ixTargeted == 0 || ixFrozen >= 1,
      s"$ixTargeted first kills watched only the index root but none " +
        "froze its fold - the index root's crash windows went unhit")
    val rows = reports.map(r =>
      s"""{"kill":${r.kill},"kill1_ms":${r.kill1Ms},""" +
        s""""window1":"${r.window1}","interrupted1":${r.interrupted1},""" +
        s""""exit1":${r.exit1},"kill2_ms":${r.kill2Ms},""" +
        s""""kill2_trigger":"${r.trigger2}",""" +
        s""""window2":"${r.window2}","interrupted2":${r.interrupted2},""" +
        s""""exit2":${r.exit2},""" +
        f""""heal_drain_s":${r.healDrainS}%.1f,""" +
        s""""equivalence":${r.equivalence},"mass":${r.mass},""" +
        s""""ledger":${r.ledger},"gen_after_heal":${r.genAfterHeal}}""")
    val json = s"""{"recipe":"kill-during-heal: SIGKILL a separate-JVM """ +
      s"""runManaged drain inside its first compaction fold, then """ +
      s"""SIGKILL the separate-JVM HEAL mid-flight (second kills """ +
      s"""alternate timer-stratified / fold-triggered), then heal a """ +
      s"""third time and gate the roots on the one-shot oracle - """ +
      s"""proves the recovery path is itself crash-safe",""" +
      s""""kills":$kills,"prior":$prior,"triggers":$triggers,""" +
      s""""batch_rows":$batchRows,"compact_every":$compactEvery,""" +
      s""""window_ms":$windowMs,""" +
      s""""both_interrupted":$bothInterrupted,""" +
      s""""second_kills_inside_compaction_window":$k2InWindow,""" +
      s""""index_fold_first_kills":$ixFrozen,""" +
      s""""all_heals_match_oracle":true,""" +
      s""""reports":[${rows.mkString(",")}]}\n"""
    Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[crash] wrote $out ($bothInterrupted/$kills both-kill " +
      s"iterations, $k2InWindow second kills in a compaction window, " +
      "all heals == oracle)")
    spark.stop()
  }
}
