package graft.cdc

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The skew-aware sliced merge exchange (r21, VERDICT r20 next #1): the
  * state merge clusters by (__bucket, __slice) so the partitionBy write
  * emits ~slice-count files per touched bucket instead of
  * shuffle_partitions × buckets, while a bucket past the byte target still
  * splits across tasks (intra-bucket parallelism at scale). */
class MergeSliceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def partFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(f => f.getName.startsWith("part-") &&
      f.getName.contains(".parquet") && !f.getName.endsWith(".crc"))
  }

  private def latestVersionDir(stateDir: String, bucket: Int): java.io.File = {
    val b = new java.io.File(s"$stateDir/bucket=$bucket")
    b.listFiles().filter(_.getName.startsWith("v="))
      .maxBy(_.getName.drop(2).toInt)
  }

  test("a non-seed merge writes ONE file per small touched bucket " +
    "(fan-out collapse), and the merged content is exact") {
    val stateDir = Files.createTempDirectory("graft-slice1-").toString + "/state"
    def mk(rows: (Long, Long, String, String)*) = rows.toDF("id", "seq", "op", "v")
    // seed: 64 keys over 4 buckets
    ChangelogStream.upsertBatch(
      mk((1L to 64L).map(i => (i, i, "INSERT", s"v$i")): _*),
      stateDir, initialBuckets = 4)
    // non-seed merge touching every bucket, with keys spread over all 4
    // shuffle partitions — the OLD plan wrote up to 4 files per bucket
    ChangelogStream.upsertBatch(
      mk((1L to 64L).map(i => (i, 1000L + i, "UPDATE", s"w$i")): _*), stateDir)
    val layout = Buckets.read(spark, stateDir).get
    layout.entries.keys.foreach { b =>
      val files = partFiles(latestVersionDir(stateDir, b))
      assert(files.size === 1,
        s"bucket $b: expected 1 sliced merge file, got ${files.map(_.getName)}")
    }
    // content exact: latest seq per key
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect()
    assert(out.toSeq === (1L to 64L).map(i => (i, s"w$i")))
  }

  test("a bucket past the slice byte target splits into several files; " +
    "small buckets stay at one; results identical to the unsliced fold") {
    val stateDir = Files.createTempDirectory("graft-slice2-").toString + "/state"
    def mkN(n: Int, seqOff: Long, tag: String) = spark.range(n)
      .select(($"id" + 1).as("id"), ($"id" + 1 + seqOff).as("seq"),
        lit("INSERT").as("op"),
        concat(lit(tag), lpad(($"id" + 1).cast("string"), 6, "0"),
          lit("-" * 64)).as("v"))
    ChangelogStream.upsertBatch(mkN(512, 0L, "a"), stateDir, initialBuckets = 4)
    // force slicing: a tiny byte target makes every touched bucket's
    // prev+batch estimate exceed one slice
    spark.conf.set("spark.graft.merge.slice.bytes", "4096")
    try {
      ChangelogStream.upsertBatch(mkN(512, 100000L, "b"), stateDir)
    } finally spark.conf.unset("spark.graft.merge.slice.bytes")
    val layout = Buckets.read(spark, stateDir).get
    val perBucket = layout.entries.keys.toSeq.map { b =>
      partFiles(latestVersionDir(stateDir, b)).size
    }
    assert(perBucket.exists(_ > 1),
      s"no bucket sliced past one file under a 4 KB target: $perBucket")
    // the sliced merge computes the same state: latest-per-key everywhere
    val out = ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
    assert(out.count() === 512)
    assert(out.filter(!$"v".startsWith("b")).count() === 0,
      "a key kept its superseded seed value — slice grouping broke the fold")
    // point reads route through the sliced files
    assert(ChangelogStream.readKey(spark, stateDir, 7L)
      .exists(_.getAs[String]("v").startsWith("b000007")))
  }

  /** An RDD-backed copy of `df`: its plan carries no statistics, so the
    * optimizer reports spark.sql.defaultSizeInBytes — the "unknown size"
    * sentinel the slice sizer must not read as a byte count. */
  private def statsLess(df: org.apache.spark.sql.DataFrame) = {
    val out = spark.createDataFrame(df.rdd, df.schema)
    assert(out.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    out
  }

  private def withSliceTarget[T](bytes: Long)(body: => T): T = {
    spark.conf.set("spark.graft.merge.slice.bytes", bytes.toString)
    try body finally spark.conf.unset("spark.graft.merge.slice.bytes")
  }

  test("a stats-less batch touching ONE bucket takes its slice count from " +
    "the bucket's prev bytes") {
    val stateDir = Files.createTempDirectory("graft-slice3-").toString + "/state"
    ChangelogStream.upsertBatch(spark.range(512)
      .select(($"id" + 1).as("id"), ($"id" + 1).as("seq"), lit("INSERT").as("op"),
        concat(lit("a"), lpad(($"id" + 1).cast("string"), 6, "0"),
          lit("-" * 64)).as("v")), stateDir, initialBuckets = 4)
    val layout = Buckets.read(spark, stateDir).get
    val b = Buckets.bucketOfValues(layout, Seq(7L))
    val prevDir = new org.apache.hadoop.fs.Path(s"$stateDir/bucket=$b/v=${layout.version(b)}")
    val prevBytes = prevDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(prevDir).getLength
    // a target of a quarter of the bucket: ⌈prev / target⌉ = 4 or 5 slices
    val target = prevBytes / 4
    val slices = ((prevBytes + target - 1) / target).toInt
    withSliceTarget(target)(ChangelogStream.upsertBatch(
      statsLess(Seq((7L, 100000L, "UPDATE", "b7")).toDF("id", "seq", "op", "v")),
      stateDir, cacheBatch = false))
    // the merge exchange hash-partitions (__bucket, __slice) into `slices`
    // partitions (one touched bucket), and each partition writes one file:
    // recompute that placement over the bucket's keys
    val wantFiles = ChangelogStream.readState(spark, stateDir, Seq("id"), Some(b))
      .select(pmod(hash(lit(b), pmod(xxhash64($"id"), lit(slices.toLong)).cast("int")),
        lit(slices)).as("part"))
      .distinct().count()
    assert(wantFiles > 1)
    assert(partFiles(latestVersionDir(stateDir, b)).size === wantFiles,
      s"bucket $b ($prevBytes prev bytes, target $target) should merge in $slices slices")
    assert(ChangelogStream.readKey(spark, stateDir, 7L)
      .exists(_.getAs[String]("v") === "b7"))
  }

  test("a stats-less batch touching SEVERAL small buckets writes one file per " +
    "bucket") {
    val stateDir = Files.createTempDirectory("graft-slice4-").toString + "/state"
    def mk(seqOff: Long, tag: String) = (1L to 32L)
      .map(i => (i, i + seqOff, "INSERT", s"$tag$i")).toDF("id", "seq", "op", "v")
    ChangelogStream.upsertBatch(mk(0L, "a"), stateDir, initialBuckets = 2)
    withSliceTarget(4096L)(ChangelogStream.upsertBatch(
      statsLess(mk(100L, "b")), stateDir, cacheBatch = false))
    val layout = Buckets.read(spark, stateDir).get
    layout.entries.keys.foreach { b =>
      val files = partFiles(latestVersionDir(stateDir, b))
      assert(files.size === 1,
        s"bucket $b: expected 1 file under an unknown batch size, got ${files.size}")
    }
    assert(ChangelogStream.readState(spark, stateDir, Seq("id", "v"))
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      (1L to 32L).map(i => (i, s"b$i")))
  }

  test("sessionWithParts memoizes per (context, parts) — the codegen cache " +
    "survives across passes instead of re-keying on a throwaway classloader") {
    val a = Materialize.sessionWithParts(spark, 8)
    val b = Materialize.sessionWithParts(spark, 8)
    val c = Materialize.sessionWithParts(spark, 4)
    assert(a eq b, "same (context, parts) must reuse the sibling session")
    assert(!(a eq c), "different parts must not share a session")
    assert(a.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(c.conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
