package graft.cdc.bench

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Milliseconds since the benchmark process started its clock; wall-clock
  * stamps (Spark progress timestamps) convert through the same origin. */
object Clock {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def ms(): Double = (System.nanoTime() - nano0) / 1e6
  def fromWall(epochMs: Long): Double = (epochMs - wall0).toDouble
  /** A progress line on stderr, stamped with the benchmark clock. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${ms() / 1000}%8.2f s] $msg")
}

/** One traced interval. `parent` indexes the span that caused it (-1 for a
  * root); `ref` is the epoch or read id. */
final case class Span(name: String, start: Double, end: Double, parent: Int, ref: Long)

/** In-memory span buffer; written out once when the run ends. */
final class Recorder(val on: Boolean) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  def add(name: String, start: Double, end: Double, parent: Int = -1, ref: Long = -1): Int =
    if (!on) -1 else synchronized { buf += Span(name, start, end, parent, ref); buf.size - 1 }
  def spans: Vector[Span] = synchronized(buf.toVector)

  /** Per span name: count, total ms and self ms (total minus the part of
    * its interval that its children cover). */
  def table(): Seq[(String, Int, Double, Double)] = {
    val s = spans
    val kids = s.indices.groupBy(i => s(i).parent)
    def covered(i: Int): Double = {
      val iv = kids.getOrElse(i, Nil).map(j => (math.max(s(j).start, s(i).start),
        math.min(s(j).end, s(i).end))).filter(p => p._2 > p._1).sortBy(_._1)
      var total = 0.0; var cur = Double.NegativeInfinity; var curEnd = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        if (a > curEnd) { if (curEnd > cur) total += curEnd - cur; cur = a; curEnd = b }
        else curEnd = math.max(curEnd, b)
      }
      if (curEnd > cur) total += curEnd - cur
      total
    }
    s.indices.groupBy(i => s(i).name).toSeq.sortBy(_._1).map { case (name, is) =>
      val tot = is.map(i => s(i).end - s(i).start).sum
      (name, is.size, tot, tot - is.map(covered).sum)
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (sp, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(f"""{"id":$i,"name":"${sp.name}","start_ms":${sp.start}%.3f,""" +
        f""""end_ms":${sp.end}%.3f,"parent":${sp.parent},"ref":${sp.ref}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark-level work counters, split by the `perfbench.layer` local
  * property (set on the reader thread as "serve"; everything else is the
  * ingest path). Counting starts at `open()`. With tracing on, every job
  * also becomes a span. */
final class Meter(rec: Recorder) extends SparkListener {
  final class Counts {
    @volatile var jobs = 0L; @volatile var tasks = 0L; @volatile var taskMs = 0L
    @volatile var shuffleBytes = 0L; @volatile var bytesRead = 0L
  }
  val ingest = new Counts
  val serve = new Counts
  @volatile private var open_ = false
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Boolean)]()
  private val stageServe = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()

  def open(): Unit = open_ = true
  def close(): Unit = open_ = false
  private def isServe(p: java.util.Properties): Boolean =
    p != null && p.getProperty("perfbench.layer") == "serve"

  override def onJobStart(e: SparkListenerJobStart): Unit = if (open_) {
    val serveJob = isServe(e.properties)
    jobStart.put(e.jobId, (Clock.ms(), serveJob))
    e.stageIds.foreach(s => stageServe.put(s, serveJob))
    val c = if (serveJob) serve else ingest
    c.synchronized(c.jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStart.remove(e.jobId)
    if (st != null)
      rec.add(if (st._2) "engine.job.serve" else "engine.job.ingest", st._1, Clock.ms(), ref = e.jobId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (open_ && e.taskMetrics != null) {
    val serveTask = stageServe.getOrDefault(e.stageId, false)
    val c = if (serveTask) serve else ingest
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

/** Process-level probes read from outside the engine. */
object Probes {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  /** Bytes written through the Hadoop local filesystem by this JVM: every
    * state, index, MV and checkpoint file the engine writes. */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  def heapUsed(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

/** Heap use over a timed phase, from GC notifications. `close()` returns
  * the bytes allocated since `open()` (reclaimed by the collections in
  * between, plus the growth of the used heap) and the heap still in use
  * after a closing full collection: the retained footprint of whatever
  * the run holds open, independent of the heap's sizing. */
final class HeapMeter {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e }
  private var reclaimed = 0L
  private var used0 = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // the explicit collection that closes the phase is not allocation
        if (info.getGcCause != "System.gc()") {
          def heap(m: java.util.Map[String, MemoryUsage]) =
            m.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          val g = info.getGcInfo
          HeapMeter.this.synchronized(reclaimed += heap(g.getMemoryUsageBeforeGc) - heap(g.getMemoryUsageAfterGc))
        }
      }
  }

  def open(): Unit = {
    used0 = Probes.heapUsed()
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }

  /** (allocated MB, retained MB). */
  def close(): (Double, Double) = {
    val allocated = synchronized(reclaimed) + Probes.heapUsed() - used0
    emitters.foreach(_.removeNotificationListener(listener))
    System.gc()
    (allocated / 1048576.0, Probes.heapUsed() / 1048576.0)
  }
}

/** A changelog file the generator wrote and when it was due: the moment
  * the previous epoch had committed and the generator started writing. */
final case class Timed(file: ClFile, due: Double)

/** One read the open-loop reader issued. */
final case class ReadRec(id: Int, kind: String, due: Double, start: Double, end: Double,
                         ok: Boolean)

/** A single open-loop reader: read `j` is due at `t0 + j * periodMs`
  * whatever the engine is doing, and is timed from its due time. Kinds
  * rotate through `ops`; an op returns whether it got a non-empty answer.
  * It reads until `stop()`, which lets the read in flight finish. */
final class Reader(spark: SparkSession, t0: Double, periodMs: Double,
                   ops: IndexedSeq[(String, Int => Boolean)], rec: Recorder) {
  val records = new ConcurrentLinkedQueue[ReadRec]()
  @volatile private var stopped = false
  private val thread = new Thread(() => {
    spark.sparkContext.setLocalProperty("perfbench.layer", "serve")
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "serve")
    var j = 0
    while (!stopped) {
      val due = t0 + j * periodMs
      while (!stopped && Clock.ms() < due)
        Thread.sleep(math.max(1L, math.min(20L, (due - Clock.ms()).toLong)))
      if (!stopped) {
        val (kind, op) = ops(j % ops.size)
        val start = Clock.ms()
        val ok = try op(j / ops.size) catch { case e: Exception =>
          System.err.println(s"read $j ($kind) failed: $e"); false }
        val end = Clock.ms()
        records.add(ReadRec(j, kind, due, start, end, ok))
        val root = rec.add(kind, due, end, ref = j)
        rec.add("serve.queue", due, start, root, j)
        j += 1
      }
    }
  }, "perfbench-reader")
  thread.setDaemon(true)
  def start(): Unit = thread.start()
  def stop(): Unit = { stopped = true; thread.join() }
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What a workload run reports: the counts behind `error_rate` and two
  * metric maps (end-to-end, always; per-layer, filled when tracing). */
final class Outcome {
  /** The end-to-end metrics every workload reports, from its timed files
    * (each with the ms at which it became readable, if it did) and reads. */
  def ingestAndServe(timed: Seq[Timed], visibleAt: Map[String, Double], reads: Seq[ReadRec],
                     t0: Double, tEnd: Double, fsBytes: Long, retainedMb: Double): Unit = {
    val fresh = timed.flatMap(t => visibleAt.get(t.file.name).map(_ - t.due))
    count("files made visible", timed.size.toLong, (timed.size - fresh.size).toLong)
    count("reads", reads.size.toLong, reads.count(!_.ok).toLong)
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.pct(xs, p)
    val lat = reads.map(r => r.end - r.due)
    endToEnd("events_per_s") = (timed.map(_.file.events).sum / ((tEnd - t0) / 1000.0), "1/s")
    endToEnd("freshness_p50_ms") = (pct(fresh, 50), "ms")
    endToEnd("read_p50_ms") = (pct(lat, 50), "ms")
    endToEnd("write_amp") = (fsBytes.toDouble / timed.map(_.file.bytes).sum, "ratio")
    endToEnd("heap_retained_mb") = (retainedMb, "MB")
    notes += s"${timed.size} files, ${fresh.size} visible, ${reads.size} reads"
  }

  var attempted = 0L
  var failed = 0L
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  def check(name: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"check failed: $name" }
  }
  def count(name: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) notes += s"$bad of $n $name failed"
  }
}
