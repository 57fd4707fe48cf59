package graft.cdc.bench

import scala.jdk.CollectionConverters._

import graft.cdc.Materialize

/** Per-layer metrics of a traced run, measured from outside the engine:
  * streaming progress events (admission, WAL and offset commits,
  * addBatch), the maintainer-hook wrapper, the post-commit hook, the
  * engine's own always-on span sums for the maintainer branches, the
  * SparkListener counters and the reader's records. Every workload
  * reports every name; a layer a workload does not run reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "sources.admit_ms" -> "ms", "sources.epoch_rows" -> "count",
    "sink.add_batch_ms" -> "ms", "sink.checkpoint_ms" -> "ms",
    "stream.pre_hook_ms" -> "ms", "stream.commit_ms" -> "ms",
    "maint.hook_ms" -> "ms", "maint.mv_ms" -> "ms", "maint.join_mv_ms" -> "ms",
    "maint.index_ms" -> "ms", "maint.bidi_ms" -> "ms",
    "engine.epochs" -> "count", "engine.jobs_per_epoch" -> "count",
    "engine.tasks_per_epoch" -> "count", "engine.task_ms_per_epoch" -> "ms",
    "engine.shuffle_bytes_per_epoch" -> "bytes", "engine.bytes_written_per_epoch" -> "bytes",
    "engine.gc_ms" -> "ms", "engine.alloc_mb_per_epoch" -> "MB",
    "serve.get_ms" -> "ms", "serve.lookup_ms" -> "ms", "serve.mv_read_ms" -> "ms",
    "serve.queue_ms" -> "ms", "serve.jobs_per_read" -> "count",
    "serve.bytes_read_per_read" -> "bytes",
    "search.maintain_ms" -> "ms", "similarity.maintain_ms" -> "ms",
    "trace.trigger_coverage" -> "ratio", "trace.spans" -> "count")
  private val unitOf = Names.toMap

  def set(out: Outcome, name: String, v: Double): Unit = {
    require(unitOf.contains(name), s"undeclared layer metric $name")
    out.perLayer(name) = (v, unitOf(name))
  }

  def zeros(out: Outcome): Unit = Names.foreach { case (n, u) => out.perLayer(n) = (0.0, u) }

  /** Reader-side layer metrics, shared by every workload. */
  def serve(reads: Seq[ReadRec], meter: Meter, out: Outcome): Unit = if (reads.nonEmpty) {
    def svc(kind: String) = reads.filter(_.kind == kind).map(r => r.end - r.start)
    Seq("serve.get" -> "serve.get_ms", "serve.lookup" -> "serve.lookup_ms",
      "serve.mv_read" -> "serve.mv_read_ms").foreach { case (k, m) =>
      val xs = svc(k); if (xs.nonEmpty) set(out, m, Stats.median(xs)) }
    set(out, "serve.queue_ms", Stats.median(reads.map(r => r.start - r.due)))
    set(out, "serve.jobs_per_read", meter.serve.jobs.toDouble / reads.size)
    set(out, "serve.bytes_read_per_read", meter.serve.bytesRead.toDouble / reads.size)
  }

  def engine(epochs: Int, meter: Meter, fsBytes: Long, gcMs: Long, allocMb: Double,
             out: Outcome): Unit = {
    val n = math.max(1, epochs).toDouble
    set(out, "engine.epochs", epochs)
    set(out, "engine.jobs_per_epoch", meter.ingest.jobs / n)
    set(out, "engine.tasks_per_epoch", meter.ingest.tasks / n)
    set(out, "engine.task_ms_per_epoch", meter.ingest.taskMs / n)
    set(out, "engine.shuffle_bytes_per_epoch", meter.ingest.shuffleBytes / n)
    set(out, "engine.bytes_written_per_epoch", fsBytes / n)
    set(out, "engine.gc_ms", gcMs.toDouble)
    set(out, "engine.alloc_mb_per_epoch", allocMb / n)
  }

  private final case class EpochRow(batch: Long, start: Double, rows: Double, admit: Double,
                                    checkpoint: Double, addBatch: Double, preHook: Double,
                                    hook: Double, commit: Double, trigger: Double)

  /** The lowest share of the trigger time the five layers may leave
    * uncovered before the traced run flags the layer split. */
  val CoverageFloor = 0.9

  /** The `live` workload: one trigger span per epoch with its layers
    * as children. The progress event gives admission, the WAL and offset
    * commits and `addBatch` (ending where `commitOffsets` starts); the hook
    * wrapper and the post-commit hook stamp the rest, all on the
    * benchmark's clock. `stream.pre_hook` runs from `addBatch` start to
    * hook entry and `stream.commit` from hook exit to the post-commit hook,
    * so what the five layers leave out of the trigger (batch planning,
    * the sink's fence write after the post-commit hook) stays uncovered and
    * shows as the trigger span's self time. */
  def streaming(pass: OrdersPass, epochs: Set[Long],
                spans0: Map[String, (Double, Long)], reads: Seq[ReadRec], meter: Meter,
                fsBytes: Long, gcMs: Long, allocMb: Double, rec: Recorder, out: Outcome): Unit = {
    val progress = pass.progress.asScala.toSeq.filter(p => epochs.contains(p.batchId))
      .sortBy(_.batchId)
    val rows = progress.flatMap { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.withDefaultValue(0.0)
      for ((he, hx) <- Option(pass.hookTimes.get(p.batchId));
           pc <- Option(pass.postCommit.get(p.batchId))) yield {
        val ts = Clock.fromWall(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val (admit, wal, co) = (d("latestOffset"), d("walCommit"), d("commitOffsets"))
        val (trig, addBatch) = (d("triggerExecution"), d("addBatch"))
        val addBatchStart = ts + trig - co - addBatch
        val root = rec.add("epoch.trigger", ts, ts + trig, ref = p.batchId)
        rec.add("sources.admit", ts, ts + admit, root, p.batchId)
        rec.add("sink.wal_commit", ts + admit, ts + admit + wal, root, p.batchId)
        rec.add("stream.pre_hook", addBatchStart, he, root, p.batchId)
        rec.add("maint.hook", he, hx, root, p.batchId)
        rec.add("stream.commit", hx, pc, root, p.batchId)
        rec.add("sink.commit_offsets", ts + trig - co, ts + trig, root, p.batchId)
        EpochRow(p.batchId, ts, p.numInputRows.toDouble, admit, wal + co, addBatch,
          he - addBatchStart, hx - he, pc - hx, trig)
      }
    }
    if (rows.nonEmpty) {
      def mean(f: EpochRow => Double) = Stats.mean(rows.map(f))
      set(out, "sources.admit_ms", mean(_.admit))
      set(out, "sink.checkpoint_ms", mean(_.checkpoint))
      set(out, "sink.add_batch_ms", mean(_.addBatch))
      set(out, "stream.pre_hook_ms", mean(_.preHook))
      set(out, "maint.hook_ms", mean(_.hook))
      set(out, "stream.commit_ms", mean(_.commit))
      set(out, "sources.epoch_rows", mean(_.rows))
      val coverage = rows.map(r => r.admit + r.preHook + r.hook + r.commit + r.checkpoint).sum /
        rows.map(_.trigger).sum
      set(out, "trace.trigger_coverage", coverage)
      if (coverage < CoverageFloor)
        out.notes += f"trace: the five layers cover $coverage%.3f of the trigger time, " +
          f"below the $CoverageFloor%.2f floor"
    }
    val spans1 = Materialize.Spans.snapshot()
    def branch(kind: String) =
      (spans1.get(kind).map(_._1).getOrElse(0.0) - spans0.get(kind).map(_._1).getOrElse(0.0)) *
        1000.0 / math.max(1, epochs.size)
    set(out, "maint.mv_ms", branch("hook: mv delta"))
    set(out, "maint.join_mv_ms", branch("hook: join-mv delta"))
    set(out, "maint.index_ms", branch("hook: index delta"))
    set(out, "maint.bidi_ms", branch("hook: bidi join-mv"))
    engine(epochs.size, meter, fsBytes, gcMs, allocMb, out)
    serve(reads, meter, out)
  }
}
