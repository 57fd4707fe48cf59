package graft.cdc

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Secondary-index maintenance: the (value → key) table must track the
  * live state through inserts, value moves, and deletes; replays must be
  * absorbed; value lookups must touch only their bucket. */
class IndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def mk(rows: (Long, Long, String, String)*) =
    rows.toDF("id", "seq", "op", "g")

  private def idx(idxDir: String): Seq[(String, Long)] =
    ChangelogStream.readState(spark, idxDir, Seq("v", "id"))
      .orderBy("v", "id").as[(String, Long)].collect().toSeq

  test("index tracks inserts, value moves, and deletes") {
    val work = Files.createTempDirectory("graft-idxspec-").toString
    val (st, ix) = (s"$work/state", s"$work/idx")
    Index.maintainIndexBatch(
      mk((1L, 1L, "INSERT", "A"), (2L, 2L, "INSERT", "A"), (3L, 3L, "INSERT", "B")),
      0L, st, ix, "g")
    assert(idx(ix) === Seq(("A", 1L), ("A", 2L), ("B", 3L)))
    // id 2 moves A→B; id 3 deleted — the index must debit and credit
    Index.maintainIndexBatch(
      mk((2L, 4L, "UPDATE", "B"), (3L, 5L, "DELETE", "B")), 1L, st, ix, "g")
    assert(idx(ix) === Seq(("A", 1L), ("B", 2L)))
  }

  test("a replayed batch is absorbed without fencing") {
    val work = Files.createTempDirectory("graft-idxreplay-").toString
    val (st, ix) = (s"$work/state", s"$work/idx")
    Index.maintainIndexBatch(
      mk((1L, 1L, "INSERT", "A"), (2L, 2L, "INSERT", "B")), 0L, st, ix, "g")
    val b1 = mk((1L, 3L, "UPDATE", "B"))
    Index.maintainIndexBatch(b1, 1L, st, ix, "g")
    val committed = idx(ix)
    assert(committed === Seq(("B", 1L), ("B", 2L)))
    // replay after full commit: delta recomputes empty, index unchanged
    Index.maintainIndexBatch(b1, 1L, st, ix, "g")
    assert(idx(ix) === committed)
  }

  test("value lookup touches exactly one bucket") {
    val work = Files.createTempDirectory("graft-idxlookup-").toString
    val (st, ix) = (s"$work/state", s"$work/idx")
    // enough distinct values to populate many buckets
    Index.maintainIndexBatch(
      mk((1L to 40L).map(i => (i, i, "INSERT", s"g${i % 10}")): _*), 0L, st, ix, "g")
    assert(Index.lookupByValue(spark, ix, "g3")
      .as[Long].collect().sorted.toSeq === Seq(3L, 13L, 23L, 33L))
    // a value hashing to a bucket no write touched answers empty, not an
    // error (10 values over 16 buckets leave some unwritten)
    val layout = Buckets.read(spark, ix).get
    val untouched = Iterator.from(0).map(i => s"absent$i")
      .find(v => layout.version(Buckets.bucketOfValues(layout, Seq(v))) < 0).get
    assert(Index.lookupByValue(spark, ix, untouched).count() === 0)
    // single-bucket proof: delete every bucket dir except g3's — the lookup
    // must not notice. The manifest stays: it is the index's commit
    // record, read once to locate the bucket
    val b3 = spark.range(1).select(
      pmod(hash(lit("g3")), lit(ChangelogStream.NumBuckets))).head.getInt(0)
    new java.io.File(ix).listFiles()
      .filter(f => f.getName.startsWith("bucket=") && f.getName != s"bucket=$b3")
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    assert(Index.lookupByValue(spark, ix, "g3")
      .as[Long].collect().sorted.toSeq === Seq(3L, 13L, 23L, 33L))
  }
}
