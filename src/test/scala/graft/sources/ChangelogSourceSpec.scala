package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.cdc.Changelog

class ChangelogSourceSpec extends AnyFunSuite with SparkSpec {

  private def stage(): String = Changelog.stageEnvelopeJson(spark, sfDir)

  test("envelope round-trip preserves every event") {
    val work = stage()
    val cl = Changelog.fromOrders(spark, sfDir)
    val back = spark.read.format("changelog").load(work)
    assert(back.count() === cl.count())
    val a = cl.select(col("id"), col("seq"), col("op"), col("table"))
    val b = back.select(col("id"), col("seq"), col("op"), col("table"))
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("op equality is pushed into the reader and rows are filtered") {
    val work = stage()
    val deletes = spark.read.format("changelog").load(work)
      .filter(col("op") === "DELETE")
    val plan = deletes.queryExecution.executedPlan.toString
    assert(plan.contains("ChangelogScan"), s"DSv2 scan missing:\n$plan")
    assert(plan.contains("EqualTo(op,DELETE)"), s"pushdown missing:\n$plan")
    val expected = Changelog.fromOrders(spark, sfDir).filter(col("op") === "DELETE").count()
    assert(deletes.count() === expected)
  }

  test("column pruning narrows the scan output") {
    val work = stage()
    val ops = spark.read.format("changelog").load(work).select("op")
    val scanLine = ops.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[op") && !scanLine.contains("payload"),
      s"scan should read only op:\n$scanLine")
    assert(ops.distinct().count() === 3)
  }

  private def writeEnvelopes(dir: java.nio.file.Path, name: String, ids: Range): Unit = {
    val lines = ids.map(i =>
      s"""{"id":$i,"seq":$i,"op":"INSERT","table":"orders","payload":{"o_orderkey":$i}}""")
    java.nio.file.Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  test("micro-batch stream replays in bounded batches and resumes from the checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mbs-")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mbs-ckpt-").toString
    writeEnvelopes(dir, "a.json", 1 to 3)
    writeEnvelopes(dir, "b.json", 4 to 6)

    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("changelog")
        .option("maxFilesPerTrigger", 1).load(dir.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count(); if (n > 0) counts.add(n); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    drain()
    // maxFilesPerTrigger=1 → one batch per file, not one batch for all
    assert(counts.size === 2, s"expected 2 single-file batches, got $counts")
    assert(counts.toArray(Array.empty[java.lang.Long]).map(_.toLong).sum === 6L)

    // restart with new files: ONLY the delta is read (offset resume)
    counts.clear()
    writeEnvelopes(dir, "c.json", 7 to 8)
    drain()
    assert(counts.toArray(Array.empty[java.lang.Long]).map(_.toLong).sum === 2L,
      s"restart must not re-read committed files: $counts")
  }

  test("offsets are O(1) batch ids backed by a compacting seen-file log") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-compact-ckpt-")
    // 12 single-file batches crosses the compact interval (10)
    (1 to 12).foreach(i => writeEnvelopes(dir, f"f$i%02d.json", (i * 10) until (i * 10 + 2)))
    val total = new java.util.concurrent.atomic.AtomicLong()
    def drain(): Unit = {
      val q = spark.readStream.format("changelog")
        .option("maxFilesPerTrigger", 1).load(dir.toString)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          total.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(total.get() === 24L)
    // Spark's offset log holds a tiny {"batchId":N}, not the file array
    val offsetsDir = ckpt.resolve("offsets").toFile
    val lastOffset = offsetsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    val offJson = new String(java.nio.file.Files.readAllBytes(lastOffset.toPath), "UTF-8")
    assert(offJson.contains("\"batchId\""), s"offset not compacted: $offJson")
    assert(!offJson.contains("f01.json"), s"offset still carries file paths: $offJson")
    // the seen-file log rolled a compact entry at the interval boundary
    val logDir = ckpt.resolve("sources").resolve("0").resolve("graft-filelog").toFile
    val names = logDir.listFiles().map(_.getName)
    assert(names.exists(_.endsWith(".compact")), s"no compact entry in ${names.toSeq}")
    // restart resumes from the compacted log: only the delta is read
    writeEnvelopes(dir, "f13.json", 7 to 9)
    total.set(0L)
    drain()
    assert(total.get() === 3L, "restart must replay only the new file")
  }

  test("file log replay reconstructs the seen set from compact + deltas") {
    val work = java.nio.file.Files.createTempDirectory("graft-filelog-").toString
    val confMap = {
      val it = spark.sessionState.newHadoopConf().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val x = it.next(); b += (x.getKey -> x.getValue) }
      b.result()
    }
    val log = new ChangelogFileLog(work, confMap, compactInterval = 4)
    def e(i: Int) = ChangelogFileEntry(s"f$i", i.toLong, 1000L + i)
    (0 until 10).foreach { id =>
      val admitted = Seq(e(id))
      log.append(id, admitted, (0 to id).map(e))
    }
    val (latest, seen) = log.replay()
    assert(latest === 9L)
    assert(seen.map(_.path).sorted === (0 until 10).map(i => s"f$i").sorted)
    assert(seen.forall(x => x.len == x.path.stripPrefix("f").toLong))
    assert(log.delta(3L) === Seq(e(3)))
    intercept[IllegalStateException](log.delta(99L))
  }

  test("byte-range splits parallelize one file and cover every line exactly once") {
    val work = stage()
    val whole = spark.read.format("changelog").load(work)
    val split = spark.read.format("changelog")
      .option("maxSplitBytes", "4096").load(work)
    assert(split.rdd.getNumPartitions > whole.rdd.getNumPartitions,
      "small maxSplitBytes should yield more partitions than files")
    assert(split.count() === whole.count())
    assert(split.exceptAll(whole).count() === 0 && whole.exceptAll(split).count() === 0)
  }

  test("recursive listing finds nested files and skips _ and . metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("dt=2026-08-12"))
    val hid = java.nio.file.Files.createDirectory(dir.resolve("_staging"))
    writeEnvelopes(dir, "top.json", 1 to 2)
    writeEnvelopes(sub, "nested.json", 3 to 5)
    writeEnvelopes(hid, "junk.json", 6 to 9)
    writeEnvelopes(dir, "_SUCCESS", 10 to 19)
    assert(spark.read.format("changelog").load(dir.toString).count() === 5)
  }

  test("listing prunes hidden entries before any stat or descent and skips " +
    "a directory that vanishes mid-walk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hidlist-")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("dt=1"))
    val staging = java.nio.file.Files.createDirectory(dir.resolve("_staging"))
    java.nio.file.Files.createDirectory(dir.resolve(HiddenGuardFileSystem.Vanishing))
    writeEnvelopes(dir, "top.json", 1 to 2)
    writeEnvelopes(sub, "nested.json", 3 to 5)
    writeEnvelopes(staging, "in-flight.json", 6 to 9)
    writeEnvelopes(dir, ".x.tmp", 10 to 11)
    val conf = Map(
      "fs.hiddenguard.impl" -> classOf[HiddenGuardFileSystem].getName,
      "fs.hiddenguard.impl.disable.cache" -> "true")
    val listed = ChangelogPlanner.listDataFiles(s"hiddenguard://$dir", conf)
    assert(listed.map(_.getPath.getName) === Seq("nested.json", "top.json"))
  }

  test("gzip envelopes read through the codec factory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-")
    val lines = (1 to 4).map(i =>
      s"""{"id":$i,"seq":$i,"op":"INSERT","table":"orders","payload":{"o_orderkey":$i}}""")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("part.json.gz")))
    gz.write(lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    val back = spark.read.format("changelog").load(dir.toString)
    assert(back.count() === 4)
    assert(back.agg(sum(col("id"))).head.getLong(0) === 10L)
  }

  test("a file with no parseable envelope fails loudly instead of reading as empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bad-")
    java.nio.file.Files.write(dir.resolve("junk.bin"),
      "not json\n garbage\nstill not json\n".getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("changelog").load(dir.toString).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("none parseable")), s"unexpected failure: $e")
  }

  test("payload JSON decodes back to the original typed row") {
    val work = stage()
    val pSchema = Changelog.payloadSchema(spark, sfDir)
    val decoded = spark.read.format("changelog").load(work)
      .select(col("id"), from_json(col("payload"), pSchema).as("p"))
      .select(Seq(col("id")) ++ Changelog.payloadCols.map(c => col(s"p.$c").as(c)): _*)
    val orig = Changelog.fromOrders(spark, sfDir)
      .select(Seq(col("id")) ++ Changelog.payloadCols.map(col): _*)
    assert(decoded.exceptAll(orig).count() === 0 && orig.exceptAll(decoded).count() === 0)
  }
}

/** The local filesystem under its own scheme, failing ANY status or listing
  * call on a hidden path (a component starting with `_` or `.`): a listing
  * that stats or descends into a hidden entry throws instead of silently
  * racing a producer's rename. Listing a visible directory still names its
  * hidden children, as every filesystem does. The directory named
  * [[HiddenGuardFileSystem.Vanishing]] lists as already deleted. */
class HiddenGuardFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}

  override def getUri: java.net.URI = java.net.URI.create("hiddenguard:///")

  private def guard(p: Path): Unit =
    if (p.toUri.getPath.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
      throw new AssertionError(s"status or listing call on hidden path $p")

  override def getFileStatus(p: Path): FileStatus = { guard(p); super.getFileStatus(p) }

  override def getFileLinkStatus(p: Path): FileStatus = {
    guard(p); super.getFileLinkStatus(p)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    guard(p)
    if (p.getName == HiddenGuardFileSystem.Vanishing)
      throw new java.io.FileNotFoundException(s"$p vanished")
    // plain statuses: the local FS's lazy permission lookup does not
    // resolve a foreign scheme, and a listing needs none
    def status(q: Path) = {
      val s = super.getFileStatus(q)
      new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize, s.getModificationTime, q)
    }
    val f = pathToFile(p)
    if (!f.isDirectory) Array(status(p))
    else f.list().sorted.map(n => status(new Path(p, n)))
  }

  override def listLocatedStatus(p: Path)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    guard(p); super.listLocatedStatus(p)
  }

  override def listStatusIterator(p: Path)
      : org.apache.hadoop.fs.RemoteIterator[FileStatus] = {
    guard(p); super.listStatusIterator(p)
  }
}

object HiddenGuardFileSystem {
  val Vanishing = "dt=vanishing"
}
