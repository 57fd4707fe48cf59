package graft.cdc

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** BIDIRECTIONAL join-MV maintenance: revenue per market segment over
  * orders⋈customer where BOTH sides change — order events move per-customer
  * totals, customer events move/retract segments — kept current per batch
  * with work ∝ changed keys, never re-joining or re-aggregating history.
  *
  * The static-dimension ΔO⋈C form ([[Pipeline]]'s join-MV) breaks the
  * moment a customer changes segment or is deleted: every order the
  * customer ever placed must re-attribute. The standard decomposition is
  * group-by pushdown through the join — maintain the per-customer orders
  * aggregate A(k) = (n, Σprice) as its own keyed STATE (bucketed, dim-
  * sized), and hold the segment view M(seg) = Σ_{k: seg(k)=seg} A(k)
  * current by PER-KEY REPLACE: for every customer k whose A or segment
  * changed this batch, debit (seg_before(k), A_before(k)) and credit
  * (seg_after(k), A_after(k)). The algebra handles every case uniformly —
  * pure order churn (seg unchanged, A moves), pure segment moves (A
  * unchanged, both known), customer deletes (seg_after null → retraction),
  * and even orders arriving BEFORE their customer's insert (they park in
  * A(k) with no segment; the later insert credits A(k) into its cell).
  *
  * Per-batch cost: the one shared multi-table state merge, a changed-keys-
  * sized join against A's TOUCHED BUCKETS (the per-batch A/segment reads
  * are bucket-pruned through the layout — IO ∝ touched buckets, not dim
  * cardinality), and a groups-sized MV write. At 100 TB: A is
  * customer-cardinality (a keyed state like any other — bucketed,
  * incrementally merged); the segment read opens only the changed keys'
  * buckets; nothing scans the orders fact.
  *
  * Crash protocol (ordering is load-bearing):
  *   1. the computed per-key frame `k` PERSISTS first, `_SUCCESS`-fenced
  *      under `aggDir/_pending/v=<batchId>` — a replay loads it instead of
  *      recomputing, so the debit/credit values are pinned to the PRE-batch
  *      A and segments no matter how far the states advanced before the
  *      crash (recomputing from an already-advanced A would double-apply
  *      the batch's order deltas — the divergence this step closes);
  *   2. the MV delta commits, fenced on batchId ([[Materialize
  *      .commitDeltaRows]]);
  *   3. A's and the segment dim state's upserts run behind ONE batchId
  *      high-water fence (their row values come from the pinned `k`, so a
  *      partial advance replays idempotently);
  *   4. the pending frame is swept once the fence covers it.
  * Every crash point therefore replays to the same MV and states: before
  * (1) everything recomputes from clean pre-batch reads; between (1) and
  * (4) the pinned `k` supplies identical values; after (4) the fences skip
  * all of it.
  */
object JoinMv {

  // ── pending per-key frame (the crash-consistency pin) ─────────────────

  private def pendingDir(aggDir: String, batchId: Long) =
    s"$aggDir/_pending/v=$batchId"

  private def hasSuccess(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Load the batch's pinned per-key frame, or compute it from the
    * PRE-batch A/segment states and persist it (`_SUCCESS` via the normal
    * parquet commit). Columns: custkey, n_b, s_b, n_a, s_a, seg_b, seg_a,
    * in_do.
    *
    * Shape: every input is keyed by custkey and each key has AT MOST ONE
    * row per source, so instead of chaining four joins (each its own
    * shuffle/broadcast job — at local micro-batch sizes the per-job driver
    * latency dominates, and at cluster scale each is a separate stage
    * barrier) the frame folds as ONE union of tagged legs + ONE
    * aggregation on custkey: two jobs per batch total (the keys/bucket-id
    * job, then the fold that writes the pin). */
  private[cdc] def ensurePendingK(prev: DataFrame, merged: DataFrame,
                                  batchId: Long, aggDir: String,
                                  segDir: String): DataFrame = {
    val spark = prev.sparkSession
    val dir = pendingDir(aggDir, batchId)
    if (hasSuccess(spark, dir)) return spark.read.parquet(dir)
    // FIRST batch (r14): when NEITHER derived state has a layout yet,
    // A_before and the segment view are empty by construction — the delta
    // aggregation and the fold collapse into ONE union + ONE custkey
    // aggregation (one shuffle, one job, no intermediate persist, no
    // bucket-ids collect). This is the composed pass's entire life (its
    // declared query drains in one epoch), where the two-stage chain was
    // the epoch's critical path. Safe exactly when the pin is absent AND
    // both layouts are unwritten: any partially-advanced replay still has
    // the pin on disk (it sweeps only after both fences), so it returns
    // above and never reaches this branch.
    if (Buckets.read(spark, segDir).isEmpty && Buckets.read(spark, aggDir).isEmpty) {
      Materialize.timed("bidi: first-batch fused fold")(
        firstBatchK(prev, merged).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir))
      return spark.read.parquet(dir)
    }
    val zeroS = lit(0).cast(Materialize.SType)
    def custLive(df: DataFrame, as: String) = df
      .filter(col("table") === "customer" && col("op") =!= "DELETE")
      .select(col("id").as("custkey"), col("c_mktsegment").as(as))
    // The batch's per-customer DELTA — ΔO (signed orders contributions;
    // untouched keys cancel exactly) AND ΔC (customers whose live row
    // changed: segment move, insert, delete) — as ONE union of four tagged
    // legs folded by ONE custkey aggregation: the previous rendering
    // (groupBy + full_outer join + union-distinct) cost four shuffles per
    // micro-batch where this costs one; at micro-batch cardinalities the
    // per-stage overhead dominated the whole maintainer.
    def ordersLeg(df: DataFrame, sign: Int) = df
      .filter(col("table") === "orders" && col("op") =!= "DELETE")
      .select(col("o_custkey").as("custkey"), lit(sign.toLong).as("dn"),
        (col("o_totalprice").cast(DecimalType(18, 4)) * sign)
          .cast(Materialize.SType).as("ds"),
        lit(null).cast(StringType_).as("pseg"),
        lit(null).cast(StringType_).as("mseg"))
    def custLeg(df: DataFrame, isPrev: Boolean) =
      custLive(df, if (isPrev) "pseg" else "mseg")
        .select(col("custkey"), lit(null).cast(LongType_).as("dn"),
          lit(null).cast(Materialize.SType).as("ds"),
          (if (isPrev) col("pseg") else lit(null).cast(StringType_)).as("pseg"),
          (if (isPrev) lit(null).cast(StringType_) else col("mseg")).as("mseg"))
    val delta = ordersLeg(merged, 1).unionByName(ordersLeg(prev, -1))
      .unionByName(custLeg(prev, isPrev = true))
      .unionByName(custLeg(merged, isPrev = false))
      .groupBy(col("custkey"))
      .agg(sum(col("dn")).as("dn"), sum(col("ds")).cast(Materialize.SType).as("ds"),
        max(col("pseg")).as("pseg"), max(col("mseg")).as("mseg"))
      .withColumn("in_do",
        col("dn").isNotNull && (col("dn") =!= 0 || col("ds") =!= zeroS))
      // replace this key's contribution iff its A or its segment moved
      .filter(col("in_do") || !(col("pseg") <=> col("mseg")))
      .persist()
    try {
      // one row per (custkey, source), folded by a single groupBy: nulls
      // everywhere except the leg's own columns, max() picks the value
      def leg(src: DataFrame, cols: Map[String, Column]): DataFrame = {
        val all = Seq("dn" -> LongType_, "ds" -> Materialize.SType,
          "n_b" -> LongType_, "s_b" -> Materialize.SType,
          "seg_b" -> StringType_, "seg_m" -> StringType_,
          "touched" -> LongType_, "is_key" -> LongType_, "in_do" -> LongType_)
        src.select(col("custkey") +: all.map { case (c, t) =>
          cols.getOrElse(c, lit(null).cast(t)).as(c) }: _*)
      }
      // A_before and the segment dim view, BUCKET-PRUNED: the touched keys
      // hash to a handful of buckets (collected driver-side — ≤ the bucket
      // count, never ∝ keys); only those buckets are read, and both
      // states' bucket ids come out of ONE job over the cached keys. Both
      // states are pre-batch by the ordering contract — they only advance
      // after the pending frame and MV commit. Bucket rows for keys
      // OUTSIDE the key set ride the fold and drop at the is_key filter —
      // the same rows a join would have read and discarded.
      val (segBuckets, aggBuckets) = Materialize.timed("bidi: bucket ids")(
        touchedBucketIds(delta.select(col("custkey")), segDir, aggDir))
      val segBefore = readBuckets(spark, segDir, segBuckets,
          Seq("id", "c_mktsegment"))
        .select(col("id").as("custkey"), col("c_mktsegment").as("seg_b"))
      val aBefore = readBuckets(spark, aggDir, aggBuckets, Seq("id", "n", "s"))
        .select(col("id").as("custkey"), col("n").as("n_b"), col("s").as("s_b"))
      val touchedCust = prev.select(col("table"), col("id"))
        .unionByName(merged.select(col("table"), col("id")))
        .filter(col("table") === "customer")
        .select(col("id").as("custkey")).distinct()
      val one = lit(1L)
      val folded = Seq(
          leg(delta.filter(col("in_do")),
            Map("dn" -> col("dn"), "ds" -> col("ds"), "in_do" -> one)),
          leg(delta, Map("is_key" -> one)),
          leg(aBefore, Map("n_b" -> col("n_b"), "s_b" -> col("s_b"))),
          leg(segBefore, Map("seg_b" -> col("seg_b"))),
          leg(custLive(merged, "seg_m"), Map("seg_m" -> col("seg_m"))),
          leg(touchedCust, Map("touched" -> one)))
        .reduce(_.unionByName(_))
        .groupBy(col("custkey"))
        .agg(sum(col("dn")).as("dn"), sum(col("ds")).cast(Materialize.SType).as("ds"),
          max(col("n_b")).as("n_b"), max(col("s_b")).as("s_b"),
          max(col("seg_b")).as("seg_b"), max(col("seg_m")).as("seg_m"),
          max(col("touched")).as("touched"), max(col("is_key")).as("is_key"),
          max(col("in_do")).as("in_do"))
        .filter(col("is_key") === 1L)
      val zero = lit(0L)
      val k = folded.select(col("custkey"),
        coalesce(col("n_b"), zero).as("n_b"),
        coalesce(col("s_b"), zeroS).as("s_b"),
        (coalesce(col("n_b"), zero) + coalesce(col("dn"), zero)).as("n_a"),
        (coalesce(col("s_b"), zeroS) + coalesce(col("ds"), zeroS))
          .cast(Materialize.SType).as("s_a"),
        col("seg_b"),
        // the batch's word on a touched customer (null = deleted/vanished)
        // supersedes the pre-batch segment; untouched keeps seg_b
        when(col("touched") === 1L, col("seg_m")).otherwise(col("seg_b")).as("seg_a"),
        (col("in_do") === 1L).as("in_do"))
      // parquet's job-level _SUCCESS is the pin's commit marker; a crash
      // mid-write leaves no marker and the replay recomputes cleanly
      Materialize.timed("bidi: fold write")(
        k.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir))
    } finally delta.unpersist()
    spark.read.parquet(dir)
  }

  private val LongType_ = org.apache.spark.sql.types.LongType
  private val StringType_ = org.apache.spark.sql.types.StringType

  /** The per-key pin frame of a FIRST batch — A_before and the segment
    * view both empty — as ONE union of six tagged legs + ONE custkey
    * aggregation (the [[ensurePendingK]] fast path; algebra identical to
    * the general fold with empty state legs and the delta inlined:
    * n_b/s_b/seg_b are the empty-state constants, mseg doubles as the
    * merged live segment, and `touched` still marks every customer id the
    * batch saw — tombstones included — so a delete's seg_a stays null). */
  private def firstBatchK(prev: DataFrame, merged: DataFrame): DataFrame = {
    val zeroS = lit(0).cast(Materialize.SType)
    val nullL = lit(null).cast(LongType_)
    val nullS = lit(null).cast(Materialize.SType)
    val nullStr = lit(null).cast(StringType_)
    def ordersLeg(df: DataFrame, sign: Int) = df
      .filter(col("table") === "orders" && col("op") =!= "DELETE")
      .select(col("o_custkey").as("custkey"), lit(sign.toLong).as("dn"),
        (col("o_totalprice").cast(DecimalType(18, 4)) * sign)
          .cast(Materialize.SType).as("ds"),
        nullStr.as("pseg"), nullStr.as("mseg"), nullL.as("touched"))
    def custLeg(df: DataFrame, isPrev: Boolean) = df
      .filter(col("table") === "customer" && col("op") =!= "DELETE")
      .select(col("id").as("custkey"), nullL.as("dn"), nullS.as("ds"),
        (if (isPrev) col("c_mktsegment") else nullStr).as("pseg"),
        (if (isPrev) nullStr else col("c_mktsegment")).as("mseg"),
        nullL.as("touched"))
    def touchedLeg(df: DataFrame) = df
      .filter(col("table") === "customer")
      .select(col("id").as("custkey"), nullL.as("dn"), nullS.as("ds"),
        nullStr.as("pseg"), nullStr.as("mseg"), lit(1L).as("touched"))
    val folded = Seq(
        ordersLeg(merged, 1), ordersLeg(prev, -1),
        custLeg(prev, isPrev = true),
        custLeg(merged, isPrev = false),
        touchedLeg(prev), touchedLeg(merged))
      .reduce(_.unionByName(_))
      .groupBy(col("custkey"))
      .agg(sum(col("dn")).as("dn"),
        sum(col("ds")).cast(Materialize.SType).as("ds"),
        max(col("pseg")).as("pseg"), max(col("mseg")).as("mseg"),
        max(col("touched")).as("touched"))
    val inDo = col("dn").isNotNull && (col("dn") =!= 0 || col("ds") =!= zeroS)
    folded
      .filter(inDo || !(col("pseg") <=> col("mseg")))
      .select(col("custkey"),
        lit(0L).as("n_b"), zeroS.as("s_b"),
        coalesce(col("dn"), lit(0L)).as("n_a"),
        coalesce(col("ds"), zeroS).cast(Materialize.SType).as("s_a"),
        nullStr.as("seg_b"),
        when(col("touched") === 1L, col("mseg")).otherwise(nullStr).as("seg_a"),
        inDo.as("in_do"))
  }

  /** Step 2: the MV per-key replace — debit each changed key's before cell,
    * credit its after cell. Fenced on batchId inside commitDeltaRows. */
  private[cdc] def commitMvFromK(spark: SparkSession, k: DataFrame,
                                 batchId: Long, mvDir: String): Unit = {
    val debits = k.filter(col("seg_b").isNotNull && col("n_b") =!= 0)
      .select(col("seg_b").as("c_mktsegment"),
        (-col("n_b")).as("n"), (-col("s_b")).cast(Materialize.SType).as("s"))
    val credits = k.filter(col("seg_a").isNotNull && col("n_a") =!= 0)
      .select(col("seg_a").as("c_mktsegment"),
        col("n_a").as("n"), col("s_a").as("s"))
    Materialize.commitDeltaRows(spark, mvDir, batchId,
      credits.unionByName(debits), Seq("c_mktsegment"))
  }

  /** A's absolute new per-customer totals, straight from the pinned frame —
    * shared by [[advanceStates]] and the crash-replay spec. */
  private[cdc] def newARows(k: DataFrame, batchId: Long): DataFrame =
    k.filter(col("in_do"))
      // stableLit: epoch-stable codegen for the per-batch seq stamp
      // ([[graft.functions.StableLongLiteral]])
      .select(col("custkey").as("id"),
        graft.functions.StableLiterals.stableLit(batchId).as("seq"),
        lit("INSERT").as("op"), col("n_a").as("n"), col("s_a").as("s"))

  /** Step 3: advance A and the segment dim state behind ONE batchId fence.
    * Values come from the pinned `k` / the merge's own rows, so a partial
    * advance replays idempotently. Customer rows (including tombstones)
    * come from `merged` — the post-merge latest-per-key of the touched
    * buckets — which upserts to the identical dim state as the raw batch
    * events would; their dim-state seq is the BATCH id (monotone across
    * batches, one row per key within one), which also orders the
    * tombstones synthesized for VANISHED customers — rows a truncate fence
    * erased outright, present in `prev` but absent (not even tombstoned)
    * from `merged` — so a truncated dim never leaves stale segments
    * behind. */
  private[cdc] def advanceStates(spark: SparkSession, k: DataFrame,
                                 prev: DataFrame, merged: DataFrame,
                                 batchId: Long,
                                 aggDir: String, segDir: String): Unit =
    if (committedAggBatch(spark, aggDir) < batchId) {
      val mergedCust = merged.filter(col("table") === "customer")
      val custEvents = mergedCust
        .select(col("id"),
          graft.functions.StableLiterals.stableLit(batchId).as("seq"),
          col("op"), col("c_mktsegment"))
      val vanished = prev.filter(col("table") === "customer")
        .select(col("id"), col("c_mktsegment"))
        .join(mergedCust.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"),
          graft.functions.StableLiterals.stableLit(batchId).as("seq"),
          lit("DELETE").as("op"), col("c_mktsegment"))
      // A and the segment dim are independent states (own dirs, own
      // manifests) with values pinned by `k`/`merged` — advance them
      // concurrently; the fence writes only after BOTH commit. Both are
      // customer-cardinality (~3k keys at sf0.1): a 4-bucket fresh layout
      // (manifest-recorded; ignored once a layout exists) quarters each
      // merge's file/promote fan-out vs the 16 default, and `fullMerge`
      // drops each advance's probe job — at 4 buckets the probe was a
      // fixed driver round just to learn which dirs to touch, and these
      // synthesized batches can never carry TRUNCATE markers (r14)
      Materialize.runConcurrent(
        () => ChangelogStream.upsertBatch(newARows(k, batchId), aggDir,
          initialBuckets = 4, fullMerge = true),
        () => ChangelogStream.upsertBatch(custEvents.unionByName(vanished), segDir,
          initialBuckets = 4, fullMerge = true))
      writeAggFence(spark, aggDir, batchId)
    }

  /** The composable maintenance body: runs at a state merge's beforeCommit
    * point — the standalone stream below and [[Pipeline]]'s DSv2-sink
    * maintainer hook both call exactly this. */
  def maintain(prev: DataFrame, merged: DataFrame, batchId: Long,
               aggDir: String, segDir: String, mvDir: String): Unit = {
    val spark = prev.sparkSession
    val fs = new org.apache.hadoop.fs.Path(aggDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // replay skip needs BOTH fences now that MV commit and state advance
    // run concurrently below: a crash can commit either one alone, and
    // skipping on the agg fence only would drop an uncommitted MV delta
    // forever (the committed-subset-replays-correctly contract)
    if (committedAggBatch(spark, aggDir) >= batchId &&
        Materialize.committedVersions(spark, mvDir).lastOption
          .exists(_ >= batchId)) {
      // fully-committed batch replayed: just sweep the pending pin
      fs.delete(new org.apache.hadoop.fs.Path(pendingDir(aggDir, batchId)), true)
      return
    }
    val k = Materialize.timed("bidi: pending k")(
      ensurePendingK(prev, merged, batchId, aggDir, segDir))
    // MV commit and state advance both read ONLY the pinned frame (plus
    // merged, itself committed parquet) and fence independently — the MV
    // on batchId inside commitDeltaRows, the states on the agg fence — so
    // they run concurrently. Crash algebra is unchanged: the pin is
    // deleted only after BOTH fences, so any partial subset replays from
    // the same pinned values (an advanced state can no longer corrupt a
    // recomputed delta — the pin, not the live states, is the source).
    Materialize.runConcurrent(
      () => Materialize.timed("bidi: mv commit")(
        commitMvFromK(spark, k, batchId, mvDir)),
      () => Materialize.timed("bidi: advance states")(
        advanceStates(spark, k, prev, merged, batchId, aggDir, segDir)))
    fs.delete(new org.apache.hadoop.fs.Path(pendingDir(aggDir, batchId)), true)
  }

  /** Merge one multi-table micro-batch into the shared keyed state AND
    * maintain (a) the per-customer orders aggregate state at `aggDir`,
    * (b) the customer→segment dimension state at `segDir` (so the segment
    * view is a bucket-pruned read each batch, never a scan of the shared
    * multi-table state), and (c) the per-segment join-MV at `mvDir`. */
  def maintainBatch(batch: DataFrame, batchId: Long, stateDir: String,
                    aggDir: String, segDir: String, mvDir: String): Unit =
    ChangelogStream.upsertBatch(batch, stateDir, keyCols = Seq("table", "id"),
      beforeCommit = (prev, merged) =>
        maintain(prev, merged, batchId, aggDir, segDir, mvDir))

  /** Both states' touched bucket ids from ONE job over the (cached) keys:
    * each layout names the buckets its keys hash into; the distinct pairs
    * collect driver-side (≤ the product of the two bucket counts, the
    * [[Buckets]] invariant, never ∝ keys). An unwritten state contributes
    * no buckets (first batch). */
  private[cdc] def touchedBucketIds(keys: DataFrame, segDir: String,
                                    aggDir: String): (Seq[Int], Seq[Int]) = {
    val spark = keys.sparkSession
    def expr(dir: String) = Buckets.read(spark, dir)
      .map(l => Buckets.bucketExpr(l, Seq(keys.columns.head)))
      .getOrElse(lit(-1))
    val pairs = keys.select(expr(segDir).as("sb"), expr(aggDir).as("ab"))
      .distinct().collect()
    def side(f: org.apache.spark.sql.Row => Int, dir: String) =
      if (Buckets.read(spark, dir).isEmpty) Seq.empty[Int]
      else pairs.map(f).distinct.toSeq.sorted
    (side(_.getInt(0), segDir), side(_.getInt(1), aggDir))
  }

  /** Read ONLY the named buckets of a state ([[touchedBucketIds]] names
    * them) as ONE parquet relation — one driver-side listing per state per
    * batch, not per bucket; no buckets (unwritten state) reads as empty. */
  private[cdc] def readBuckets(spark: SparkSession, stateDir: String,
                               buckets: Seq[Int],
                               cols: Seq[String]): DataFrame =
    if (buckets.isEmpty) emptyFrame(spark, cols)
    else
      try ChangelogStream.readStateBuckets(spark, stateDir, cols, buckets)
      catch {
        case e: IllegalStateException if e.getMessage.startsWith("no state") =>
          emptyFrame(spark, cols)
      }

  /** [[readBuckets]] over the keys' own touched buckets of one state —
    * kept as the single-state entry point (spec-exercised). */
  private[cdc] def readTouchedBuckets(spark: SparkSession, stateDir: String,
                                      keys: DataFrame,
                                      cols: Seq[String]): DataFrame =
    Buckets.read(spark, stateDir) match {
      case None => emptyFrame(spark, cols)
      case Some(layout) =>
        val bs = keys
          .select(Buckets.bucketExpr(layout,
            Seq(keys.columns.head)).as("b")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        readBuckets(spark, stateDir, bs, cols)
    }

  private def emptyFrame(spark: SparkSession, cols: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c, schemaOf(c)))))

  /** readState, but an unwritten state (or never-touched bucket) reads as
    * empty. */
  private def readStateOrEmpty(spark: SparkSession, stateDir: String,
                               cols: Seq[String],
                               onlyBucket: Option[Int] = None): DataFrame =
    try ChangelogStream.readState(spark, stateDir, cols, onlyBucket)
    catch { case e: IllegalStateException if e.getMessage.startsWith("no state") =>
      emptyFrame(spark, cols)
    }

  private def schemaOf(c: String): org.apache.spark.sql.types.DataType = c match {
    case "id" => org.apache.spark.sql.types.LongType
    case "n" => org.apache.spark.sql.types.LongType
    case "s" => Materialize.SType
    case "seq" => org.apache.spark.sql.types.LongType
    case _ => org.apache.spark.sql.types.StringType
  }

  private def fencePath(aggDir: String) =
    new org.apache.hadoop.fs.Path(s"$aggDir/_agg_fence/latest")

  /** High-water batch id whose A-write committed (same single-file fence
    * protocol as the DSv2 sink's epoch log — [[MetaFile]]). */
  private def committedAggBatch(spark: SparkSession, aggDir: String): Long = {
    val p = fencePath(aggDir)
    MetaFile.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(_.trim.toLong).getOrElse(Long.MinValue)
  }

  private def writeAggFence(spark: SparkSession, aggDir: String, batchId: Long): Unit = {
    val p = fencePath(aggDir)
    MetaFile.write(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p, batchId.toString)
  }

  /** Oracle-checked query: the interleaved orders + segment-moving customer
    * changelog streamed in micro-batches; the final MV equals revenue per
    * segment re-aggregated over BOTH fully-applied states joined — the
    * bidirectional IVM guarantee (segment moves re-attribute, customer
    * deletes retract, order churn lands in the right cell). */
  def qMvJoinBidi(spark: SparkSession, sfDir: String): DataFrame = {
    val clDir = Changelog.stageParquetMultiTableSegMove(spark, sfDir)
    val work = graft.model.TempDirs.deleteOnExit(
      Files.createTempDirectory(Paths.get("/tmp"), "graft-bidi-").toString)
    // query-local 8-partition sibling session (Materialize.sessionWithParts)
    val s2 = Materialize.sessionWithParts(spark, 8)
    val stream = s2.readStream
      .schema(s2.read.parquet(clDir).schema)
      .option("maxFilesPerTrigger", 3)
      .parquet(clDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainBatch(batch, batchId, s"$work/state",
          s"$work/agg", s"$work/seg", s"$work/mv")
      }
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    readMvView(spark, s"$work/mv")
  }

  /** The (segment, n, sum_value) presentation shared by the standalone
    * query and [[Pipeline]]'s view over the composed pass. */
  private[cdc] def readMvView(spark: SparkSession, mvDir: String): DataFrame =
    Materialize.readMv(spark, mvDir)
      .select(col("c_mktsegment"), col("n"),
        round(col("s"), 2).cast("double").as("sum_value"))
      .orderBy(col("c_mktsegment"))
}
