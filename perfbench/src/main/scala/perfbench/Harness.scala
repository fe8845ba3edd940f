package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation of the closed loop. Times are epoch milliseconds
  * for attribution against Spark's listener events and nanoseconds for
  * the wall time itself. */
final case class Op(kind: String, startMs: Long, endMs: Long, wallS: Double,
                    rows: Long, ok: Boolean, gcS: Double)

/** A traced span: a named interval around one public call, with the
  * span that caused it (-1 for none). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Operation accounting and (in traced mode) spans. Single client
  * thread: ops never overlap, so every Spark job and task that starts
  * inside an op's interval belongs to it. */
final class Recorder(val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val attempted = mutable.LinkedHashMap.empty[String, Long]
  val failed = mutable.LinkedHashMap.empty[String, Long]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Run one timed op of `kind`; `body` returns the input rows it
    * completed. A failed op is counted and never enters a median. */
  def op(kind: String)(body: => Long): Option[Long] = {
    attempted(kind) = attempted.getOrElse(kind, 0L) + 1
    val gc0 = gcSeconds
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res = try Right(span(s"op.$kind")(body)) catch {
      case e: Throwable => Left(e)
    }
    val wall = (System.nanoTime() - n0) / 1e9
    val s1 = System.currentTimeMillis()
    res match {
      case Right(rows) =>
        ops += Op(kind, s0, s1, wall, rows, ok = true, gcSeconds - gc0)
        Some(rows)
      case Left(e) =>
        failed(kind) = failed.getOrElse(kind, 0L) + 1
        System.err.println(s"[perfbench] $kind op failed: $e")
        e.printStackTrace()
        ops += Op(kind, s0, s1, wall, 0L, ok = false, gcSeconds - gc0)
        None
    }
  }

  /** Record an op whose interval was measured elsewhere (a streaming
    * trigger, timed from its query progress); its GC time is unknown. */
  def external(kind: String, startMs: Long, wallS: Double, rows: Long): Unit = {
    attempted(kind) = attempted.getOrElse(kind, 0L) + 1
    ops += Op(kind, startMs, startMs + (wallS * 1e3).toLong, wallS, rows,
      ok = true, Double.NaN)
  }

  /** Time `body` as a span named `name`; a no-op wrapper when untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, name, System.nanoTime(), 0L, parent)
      open = id :: open
      try body finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def kinds: Seq[String] = attempted.keys.toSeq

  def good(kind: String): Seq[Op] = ops.filter(o => o.ok && o.kind == kind).toSeq

  def spanSeconds(name: String): Seq[Double] =
    spans.filter(s => s.name == name && s.endNs > 0).map(_.seconds).toSeq

  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}"""
      sb ++= (if (i + 1 < spans.size) ",\n" else "\n")
    }
    sb ++= "]\n"
    Files.write(path, sb.toString)
  }
}

/** Spark-side counters for traced runs: every job and task, kept with
  * its start time so it can be attributed to the op whose interval
  * holds it. */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(launch: Long, cpuNs: Long, shuffleBytes: Long,
                        spillBytes: Long, resultBytes: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L)); events += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time); events += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize))
    events += 1
  }

  /** Wait until the listener bus has delivered everything: the event
    * count must stay put for a few polls. */
  def quiesce(): Unit = {
    var last = -1L; var stable = 0
    while (stable < 3) {
      Thread.sleep(150)
      if (events == last) stable += 1 else { stable = 0; last = events }
    }
  }

  def jobsIn(startMs: Long, endMs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= startMs && j.start <= endMs)
      .toSeq.sortBy(_.start)

  def tasksIn(startMs: Long, endMs: Long): Seq[Task] =
    tasks.asScala.filter(t => t.launch >= startMs && t.launch <= endMs).toSeq
}

/** Streaming-trigger progress: the only way to time one trigger of a
  * drain from outside the program. */
final class TriggerLog extends StreamingQueryListener {
  final case class Trigger(batchId: Long, startMs: Long, wallS: Double,
                           rows: Long, planS: Double, addBatchS: Double)
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    def ms(k: String): Double = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
    if (p.numInputRows > 0 || d.contains("addBatch"))
      triggers.add(Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), p.numInputRows, ms("queryPlanning"), ms("addBatch")))
  }
  def drain(): Seq[Trigger] = {
    val out = mutable.ArrayBuffer.empty[Trigger]
    while (!triggers.isEmpty) out += triggers.poll()
    out.toSeq.sortBy(_.batchId)
  }

  /** The progress of `n` triggers. The listener bus delivers it
    * asynchronously, so it may arrive after the query has returned; wait
    * for it, and fail when it does not come within 10 s. */
  def await(n: Int): Seq[Trigger] = {
    val deadline = System.currentTimeMillis() + 10000L
    while (triggers.size < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val ts = drain()
    require(ts.size >= n, s"progress of ${ts.size} triggers arrived, expected $n")
    ts
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Seconds of `[s, e]` covered by the union of the job intervals. */
  def covered(s: Long, e: Long, jobs: Seq[(Long, Long)]): Double = {
    var t = 0L; var cur = s
    jobs.map { case (a, b) => (math.max(a, s), math.min(if (b < 0) e else b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, cur)
        if (b > lo) { t += b - lo; cur = b }
      }
    t / 1e3
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Files {
  def write(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  /** Data files under `dir` (hidden and checksum files excluded). */
  def dataFiles(dir: String): Seq[java.io.File] =
    walk(new java.io.File(dir)).filterNot { f =>
      val n = f.getName
      n.startsWith(".") || n.startsWith("_") || n.endsWith(".crc")
    }

  /** Bytes on disk under `dir`, every file counted. */
  def bytes(dir: String): Long = walk(new java.io.File(dir)).map(_.length).sum

  def mib(dirs: String*): Double = dirs.map(bytes).sum / (1024.0 * 1024.0)

  def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    walk(new java.io.File(src)).foreach { f =>
      val t = java.nio.file.Paths.get(dst).resolve(s.relativize(f.toPath))
      t.getParent.toFile.mkdirs()
      java.nio.file.Files.copy(f.toPath, t)
    }
  }

  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
  }
}

/** Everything one workload run needs: the session, its inputs and
  * output dirs, the accounting, and the metric sink. */
final class Ctx(val spark: SparkSession, val in: String, val work: String,
                val out: String, val seconds: Double,
                val rec: Recorder, val trace: Option[SparkTrace],
                val triggers: TriggerLog) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def layerMedian(name: String, xs: Seq[Double], unit: String = "s"): Unit =
    layer(name, Stats.median(xs), unit)

  /** Timed phase bounds: whole rounds, at least `minRounds` of them and
    * at least the run length. The minimum fixes the op count wherever a
    * round is slower than the run length allows, so runs of one machine
    * take the same samples. */
  def rounds(minRounds: Int)(round: Int => Boolean): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    var more = true
    while (more && (r < minRounds || System.nanoTime() < deadline)) {
      more = round(r)
      r += 1
    }
    r
  }

  /** The per-op Spark counters (`write.*` / `read.*`) for one op kind,
    * medians over its successful ops. */
  def sparkLayers(prefix: String, kind: String): Unit = {
    val ops = rec.good(kind)
    val t = trace.get
    val per = ops.map { o =>
      val jobs = t.jobsIn(o.startMs, o.endMs)
      val tasks = t.tasksIn(o.startMs, o.endMs)
      val mb = 1024.0 * 1024.0
      (jobs.size.toDouble, tasks.size.toDouble, tasks.map(_.cpuNs).sum / 1e9,
        math.max(0.0, o.wallS - Stats.covered(o.startMs, o.endMs,
          jobs.map(j => (j.start, j.end)))),
        tasks.map(_.shuffleBytes).sum / mb, tasks.map(_.spillBytes).sum / mb,
        tasks.map(_.resultBytes).sum / mb)
    }
    layerMedian(s"$prefix.jobs", per.map(_._1), "count")
    layerMedian(s"$prefix.tasks", per.map(_._2), "count")
    layerMedian(s"$prefix.task_cpu_s", per.map(_._3))
    layerMedian(s"$prefix.driver_s", per.map(_._4))
    layerMedian(s"$prefix.shuffle_mb", per.map(_._5), "MiB")
    layerMedian(s"$prefix.spill_mb", per.map(_._6), "MiB")
    layerMedian(s"$prefix.result_mb", per.map(_._7), "MiB")
  }
}
