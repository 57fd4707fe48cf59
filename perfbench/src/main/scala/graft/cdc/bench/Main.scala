package graft.cdc.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The benchmark process:
  * `Main --workload <live|docs_index> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir>`.
  *
  * Spark runs in this JVM with `local[n]` task slots, where n is the
  * processor count minus the benchmark's own generator and reader threads.
  * The reader's jobs run in their own fair-scheduler pool, so a read waits
  * for a free task slot, not for a whole ingest stage.
  * The last stdout line is the result object; with `--trace 1` the run
  * first prints the per-layer span table and writes the spans to
  * `<work>/trace-<workload>-<seed>.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Path.of(opts("work")).toAbsolutePath
    require(Set("live", "docs_index")(workload), s"unknown workload $workload")
    // the changelog generator and the reader each take one of the processors
    val slots = math.max(1, Runtime.getRuntime.availableProcessors() - 2)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.scheduler.mode", "FAIR")
      // the engine's deployment settings (as graft.Bench and graft.Verify
      // set them): stable generated class names, a compile cache sized for
      // the engine, and no per-session artifact classloaders, so repeated
      // epochs and query restarts reuse generated code
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(trace)
    val meter = new Meter(rec)
    spark.sparkContext.addSparkListener(meter)
    val out = new Outcome
    Layers.zeros(out)
    Clock.log(s"session up, $slots task slots, " +
      s"${System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime} ms after JVM start")
    val ok = try {
      workload match {
        case "live" => LiveBench.run(spark, work, seed, seconds, rec, meter, out)
        case "docs_index" => DocsBench.run(spark, work, seed, seconds, rec, meter, out)
      }
      true
    } catch { case e: Throwable =>
      e.printStackTrace()
      out.notes += s"run failed: $e"
      false
    }
    out.notes.foreach(n => println(s"# $n"))
    out.endToEnd.foreach { case (k, (v, u)) => println(f"# end-to-end $k%-20s $v%14.3f $u") }
    if (trace) {
      Layers.set(out, "trace.spans", rec.spans.size.toDouble)
      rec.writeJson(work.resolve(s"trace-$workload-$seed.json"))
      println(f"# ${"layer (span)"}%-26s ${"count"}%7s ${"total_ms"}%12s ${"self_ms"}%12s")
      rec.table().foreach { case (name, n, tot, self) =>
        println(f"# $name%-26s $n%7d $tot%12.1f $self%12.1f") }
      out.perLayer.foreach { case (k, (v, u)) => println(f"# layer $k%-32s $v%14.3f $u") }
    }
    Clock.log("run done")
    spark.stop()
    Clock.log("session stopped")
    val metrics = (if (trace) out.perLayer else out.endToEnd).toSeq
    val bad = metrics.exists { case (_, (v, _)) => v.isNaN || v.isInfinite }
    val correct = ok && out.failed == 0 && !bad
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, out.attempted)}, """ +
      s""""failed": ${out.failed + (if (ok) 0 else 1)}, "metrics": {$body}}""")
    System.exit(if (ok) 0 else 1)
  }
}
