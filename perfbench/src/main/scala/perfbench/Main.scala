package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one session, one workload, driven from
  * one client thread in a closed loop over the program's public entry
  * points. Inputs are generated beforehand (`gen.py`); outputs needed by
  * the correctness checks are written under `--out`, and the metrics to
  * `--out/result.json`.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <outDir>
  *        <seconds> <trace 0|1> */
object Main {
  /** Set-ups per run; `setup_s` takes their median. */
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: perfbench.Main <workload> <inputDir> " +
      "<workDir> <outDir> <seconds> <trace 0|1>")
    val Array(workload, in, work, out, secs, trace) = args
    val traced = trace == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val sparkTrace = if (traced) {
        val t = new SparkTrace; spark.sparkContext.addSparkListener(t); Some(t)
      } else None
      val triggers = new TriggerLog
      spark.streams.addListener(triggers)
      val ctx = new Ctx(spark, in, work, out, secs.toDouble,
        new Recorder(traced), sparkTrace, triggers)
      val w: Workload = workload match {
        case "warehouse_cdc" => Warehouse
        case "corpus_refresh" => CorpusRefresh
        case other => sys.error(s"unknown workload: $other")
      }
      val t0 = System.nanoTime()
      def phase(name: String): Unit = System.err.println(
        f"[perfbench] $name done at ${sessionS + (System.nanoTime() - t0) / 1e9}%.1fs")
      phase("session")
      val seedS = (0 until SetupReps).map(r => w.setup(ctx, r, last = r == SetupReps - 1))
      phase("set-up")
      w.warmup(ctx)
      phase("warm-up")
      ctx.rec.spans.clear() // warm-up ops are untimed, and so are their spans
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val cpu0 = os.getProcessCpuTime
      val rounds = w.timed(ctx)
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      phase("timed phase")
      sparkTrace.foreach(_.quiesce())

      val rec = ctx.rec
      def wall(kind: String) = rec.good(kind).map(_.wallS)
      val writes = rec.good("write")
      ctx.metric("setup_s", sessionS + Stats.median(seedS), "s")
      ctx.metric("write_p50_s", Stats.median(wall("write")), "s")
      ctx.metric("read_p50_s", Stats.median(wall("read")), "s")
      ctx.metric("rows_per_s",
        writes.map(_.rows).sum / math.max(1e-9, writes.map(_.wallS).sum), "1/s")
      ctx.metric("cpu_s", cpuS / math.max(1, rounds), "s")
      w.finish(ctx)
      if (traced) {
        ctx.sparkLayers("write", "write")
        ctx.sparkLayers("read", "read")
        ctx.layerMedian("jvm.gc_s", rec.ops.filter(_.ok).map(_.gcS).filterNot(_.isNaN).toSeq)
        val heap = ManagementFactory.getMemoryPoolMXBeans.toArray
          .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
        ctx.layer("jvm.heap_after_gc_mb", heap / (1024.0 * 1024.0), "MiB")
        rec.writeSpans(s"$out/spans.json")
      }
      writeResult(ctx, rounds, sessionS, seedS, cpuS)
      phase("finish")
    } finally spark.stop()
  }

  private def writeResult(ctx: Ctx, rounds: Int, sessionS: Double,
                          seedS: Seq[Double], cpuS: Double): Unit = {
    def obj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    def counts(m: Iterable[(String, Long)]) =
      m.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    val rec = ctx.rec
    val samples = rec.ops.filter(_.ok).groupBy(_.kind).map { case (k, v) => k -> v.size.toLong }
    Files.write(s"${ctx.out}/result.json",
      s"""{"attempted": ${counts(rec.attempted)},
         | "failed": ${counts(rec.kinds.map(k => k -> rec.failed.getOrElse(k, 0L)))},
         | "samples": ${counts(samples)},
         | "walls": {${rec.kinds.map(k => s"${Json.str(k)}: " + rec.good(k)
      .map(o => Json.num(o.wallS)).mkString("[", ", ", "]")).mkString(", ")}},
         | "rounds": $rounds, "session_s": ${Json.num(sessionS)},
         | "seed_s": ${seedS.map(Json.num).mkString("[", ", ", "]")},
         | "timed_cpu_s": ${Json.num(cpuS)},
         | "metrics": ${obj(ctx.metrics)},
         | "layers": ${obj(ctx.layers)}}
         |""".stripMargin)
  }
}

/** One workload: set-up (repeated, the last one kept), untimed warm-up,
  * the timed closed loop, and the metrics and check outputs it owns. */
trait Workload {
  /** Seed program state; returns the seconds it took. */
  def setup(ctx: Ctx, rep: Int, last: Boolean): Double
  def warmup(ctx: Ctx): Unit
  /** Run whole rounds for the run length; returns the rounds run. */
  def timed(ctx: Ctx): Int
  /** After the timed phase: `store_mb`, the workload's per-layer
    * metrics, and check outputs. */
  def finish(ctx: Ctx): Unit
}
