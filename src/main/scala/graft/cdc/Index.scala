package graft.cdc

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incrementally-maintained SECONDARY INDEX over the keyed state: the
  * reference serves field-addressed searches from Elasticsearch's inverted
  * index for free; here the analog is a (value → key) table kept current
  * under the changelog stream and laid out for value-addressed point reads.
  *
  * The construction reuses the bucketed state sink RECURSIVELY: the index
  * IS a keyed state — keyed by (value, id), bucketed by `value` alone —
  * whose own changelog derives from the primary state's per-batch deltas
  * ([[ChangelogStream.upsertBatch]]'s beforeCommit hands over the touched
  * buckets' previous and merged rows): a key whose indexed value changed
  * emits DELETE(old value, id) + INSERT(new value, id); a deleted key
  * emits only the DELETE. Both sinks therefore share the incremental-IO
  * property — per batch, each rewrites only its touched buckets — and the
  * index adds no second merge of the primary state.
  *
  * Replay safety needs NO fence (unlike the MV's non-idempotent deltas):
  * a replayed batch recomputes its delta against whatever state committed
  * — if the primary already advanced the delta is empty; if not, the same
  * index events re-emerge with the same seq and the index's own
  * `max_by(seq)` merge absorbs them. Every crash point replays clean.
  *
  * At 100 TB: the index is ∝ state (one row per live key) but bucketed by
  * value hash, so a value search is one directory listing + one bucket
  * scan with the value filter pushed to parquet — O(bucket), not O(index).
  */
object Index {

  /** Commit one batch's index delta from the touched buckets' previous and
    * merged rows — the composable beforeCommit body ([[Pipeline]] chains it
    * with the MV deltas behind ONE state merge). A key whose indexed value
    * changed emits DELETE(old value) + INSERT(new value); a deleted key
    * emits only the DELETE; the events merge into the index's own keyed
    * state (bucketed by value). */
  /** `initialBuckets` sizes a FRESH index's layout (manifest-recorded,
    * ignored once one exists — the [[ChangelogStream.upsertBatch]] knob):
    * the composed pass passes 8 for its orders-sized index to halve the
    * per-epoch write/promote fan-out (r14). */
  private[graft] def commitIndexDelta(prev: DataFrame, merged: DataFrame,
                                    batchId: Long, idxDir: String,
                                    valueCol: String,
                                    keyCols: Seq[String] = Seq("id"),
                                    initialBuckets: Int = ChangelogStream.NumBuckets,
                                    fullMerge: Boolean = false,
                                    prevEmpty: Boolean = false): Unit = {
    // per-key (old value, new value) via ONE union + ONE key aggregation —
    // the tagged-leg fold [[JoinMv.ensurePendingK]] uses, replacing the
    // previous full_outer join (two shuffled sides + a join stage for the
    // same result; at micro-batch sizes the extra stages dominated the
    // whole maintainer, and at cluster scale each is a stage barrier).
    // Both sides are latest-per-key frames, so each key has ≤1 live row
    // per leg and max() lifts the leg's value out of the fold.
    def live(rows: DataFrame, as: String) = rows
      .filter(col("op") =!= "DELETE")
      .select(keyCols.map(col) :+ col(valueCol).as(as): _*)
    val vType = merged.schema(valueCol).dataType
    def leg(src: DataFrame, isPrev: Boolean) = live(src, "v")
      .select(keyCols.map(col) :+
        (if (isPrev) col("v") else lit(null).cast(vType)).as("v_old") :+
        (if (isPrev) lit(null).cast(vType) else col("v")).as("v_new"): _*)
    // prevEmpty (the seed batch): the prev leg is empty BY CONSTRUCTION —
    // the union would plan (and codegen) a dead chain every epoch, and the
    // per-key fold would re-aggregate groups that are already unique
    // (merged is latest-per-key). The seed delta is one projection of the
    // merged side; !(null <=> v_new) reduces to v_new IS NOT NULL, kept
    // explicitly so null-valued keys still emit no event (guide §2.4).
    val changed =
      if (prevEmpty)
        leg(merged, isPrev = false).filter(col("v_new").isNotNull)
      else leg(prev, isPrev = true)
        .unionByName(leg(merged, isPrev = false))
        .groupBy(keyCols.map(col): _*)
        .agg(max(col("v_old")).as("v_old"), max(col("v_new")).as("v_new"))
        .filter(!(col("v_old") <=> col("v_new")))
    // stableLit, not lit: an inlined batch-id literal re-keys the codegen
    // cache every epoch, recompiling this delta's whole generated stage
    // per batch ([[graft.functions.StableLongLiteral]])
    val dels = changed.filter(col("v_old").isNotNull)
      .select(col("v_old").as("v") +: keyCols.map(col) :+
        graft.functions.StableLiterals.stableLit(batchId).as("seq") :+
        lit("DELETE").as("op"): _*)
    val ins = changed.filter(col("v_new").isNotNull)
      .select(col("v_new").as("v") +: keyCols.map(col) :+
        graft.functions.StableLiterals.stableLit(batchId).as("seq") :+
        lit("INSERT").as("op"): _*)
    val idxEvents = dels.unionByName(ins)
    // the index is itself a keyed state: key (v, id...), bucketed by v;
    // its events are synthesized DELETE/INSERT only, so the seed batch's
    // probe is skippable (noTruncate — upsertBatch's doc)
    ChangelogStream.upsertBatch(idxEvents, idxDir,
      keyCols = "v" +: keyCols, bucketCols = Seq("v"),
      initialBuckets = initialBuckets, noTruncate = true,
      fullMerge = fullMerge)
  }

  /** Merge one micro-batch into the primary state AND its secondary index
    * on `valueCol`. Index rows: (v, id, seq, op). */
  def maintainIndexBatch(batch: DataFrame, batchId: Long,
                         stateDir: String, idxDir: String,
                         valueCol: String,
                         keyCols: Seq[String] = Seq("id")): Unit = {
    ChangelogStream.upsertBatch(batch, stateDir, keyCols,
      beforeCommit = (prev, merged) =>
        commitIndexDelta(prev, merged, batchId, idxDir, valueCol, keyCols,
          prevEmpty = ChangelogStream.hookPrevIsEmpty))
  }

  /** All keys currently holding `value` — served from ONE index bucket
    * (hash(value) names it, the same hash the writer bucketed by), with
    * the value filter pushed to parquet inside it. `value` must carry the
    * indexed column's exact RUNTIME type (a Long probe of a string-indexed
    * column hashes differently than the string "42" — same contract as
    * [[ChangelogStream.readKey]]), so the literal's hash matches the
    * writer's hash of the stored `v` column. */
  def lookupByValue(spark: SparkSession, idxDir: String, value: Any,
                    keyCols: Seq[String] = Seq("id")): DataFrame = {
    val bucket = Buckets.read(spark, idxDir)
      .map(l => Buckets.bucketOfValues(l, Seq(value)))
      .getOrElse(throw new IllegalStateException(s"no state at $idxDir"))
    ChangelogStream.readState(spark, idxDir, "v" +: keyCols,
      onlyBucket = Some(bucket))
      .filter(col("v") === value)
      .select(keyCols.map(col): _*)
  }

  /** Oracle-checked query: the orders changelog streamed in micro-batches
    * maintaining a secondary index on o_orderstatus; the final index holds
    * exactly the (status, key) pairs of the live state. */
  def qSecondaryIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val clDir = Changelog.stageParquet(spark, sfDir)
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-idx-").toString)
    // query-local 8-partition sibling session (Materialize.sessionWithParts)
    val s2 = Materialize.sessionWithParts(spark, 8)
    val stream = s2.readStream
      .schema(s2.read.parquet(clDir).schema)
      .option("maxFilesPerTrigger", 3)
      .parquet(clDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainIndexBatch(batch, batchId, s"$work/state", s"$work/idx",
          valueCol = "o_orderstatus")
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ChangelogStream.readState(spark, s"$work/idx", Seq("v", "id"))
      .select(col("v").as("o_orderstatus"), col("id").as("o_orderkey"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }
}
