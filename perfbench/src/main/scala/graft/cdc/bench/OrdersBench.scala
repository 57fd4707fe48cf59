package graft.cdc.bench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.{Apply, Changelog, ChangelogStream, Index, JoinMv, Materialize, Pipeline}
import graft.sources.ChangelogStateSink

/** One composed CDC pass driven from outside: the generator's changelog
  * directory → the DSv2 `changelog` source → the `changelog-state` sink
  * with `Pipeline.fullMaintainer` (MV, join-MV, status index, bidirectional
  * join-MV) on its maintainer hook and a post-commit hook that stamps when
  * each epoch became readable. */
final class OrdersPass(spark: SparkSession, val root: Path, val gen: OrdersGen, rec: Recorder) {
  val sfDir: String = root.resolve("sf").toString
  val clDir: Path = root.resolve("changelog")
  val ckpt: String = root.resolve("ckpt").toString
  val dirs: Pipeline.Dirs = {
    val w = root.toString
    Pipeline.Dirs(s"$w/state", s"$w/mv", s"$w/mv_join", s"$w/idx", s"$w/agg", s"$w/seg", s"$w/mv_bidi")
  }
  val writer = new ClWriter(clDir, "cl")
  /** epoch id -> ms when its post-commit hook ran. */
  val postCommit = new ConcurrentHashMap[Long, Double]()
  /** epoch id -> (hook entry ms, hook exit ms); filled only when tracing. */
  val hookTimes = new ConcurrentHashMap[Long, (Double, Double)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val key = s"perfbench-${java.util.UUID.randomUUID()}"
  private val s2 = Materialize.sessionWithParts(spark, spark.sparkContext.defaultParallelism)
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  def writeBaseTables(): Unit = {
    val orders = StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
    val customer = StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    spark.createDataFrame(gen.ordersRows.asJava, orders).coalesce(1)
      .write.parquet(s"$sfDir/orders.parquet")
    spark.createDataFrame(gen.customerRows.asJava, customer).coalesce(1)
      .write.parquet(s"$sfDir/customer.parquet")
  }

  def start(trigger: Trigger, maxFilesPerTrigger: Int): StreamingQuery = {
    val inner = Pipeline.fullMaintainer(s2, sfDir, dirs)
    ChangelogStateSink.maintainers.put(key,
      if (!rec.on) inner
      else (prev: DataFrame, merged: DataFrame, epoch: Long) => {
        val a = Clock.ms()
        try inner(prev, merged, epoch) finally hookTimes.put(epoch, (a, Clock.ms()))
      })
    ChangelogStateSink.postCommits.put(key, (epoch: Long) => { postCommit.put(epoch, Clock.ms()); () })
    if (rec.on) s2.streams.addListener(listener)
    val decoded = Pipeline.decodedMultiTableStream(s2, sfDir, clDir.toString, maxFilesPerTrigger)
    decoded.writeStream.format("changelog-state")
      .option("path", dirs.state)
      .option("schema", decoded.schema.toDDL)
      .option("keyCols", "table,id")
      .option("maintainer", key)
      .option("postCommit", key)
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .start()
  }

  def stop(q: StreamingQuery): Unit = {
    q.stop()
    s2.streams.removeListener(listener)
    ChangelogStateSink.maintainers.remove(key)
    ChangelogStateSink.postCommits.remove(key)
  }

  /** file name -> the streaming batch id whose commit made it readable,
    * from the source's file log and the query's offset log. */
  def fileEpochs(): Map[String, Long] = {
    def lines(p: Path) = Files.readAllLines(p).asScala.toSeq
    val logDir = Path.of(ckpt, "sources", "0", "graft-filelog")
    val srcBatch = Files.list(logDir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith(".") && !p.toString.endsWith(".compact"))
      .flatMap { p =>
        val id = p.getFileName.toString.toLong
        lines(p).filter(_.nonEmpty).map(l => Path.of(new java.net.URI(l.split('\t')(0))).getFileName.toString -> id)
      }
    val offsets = Files.list(Path.of(ckpt, "offsets")).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .map { p =>
        val end = """"batchId"\s*:\s*(-?\d+)""".r.findFirstMatchIn(lines(p).last).get.group(1).toLong
        (p.getFileName.toString.toLong, end)
      }.sortBy(_._1)
    srcBatch.flatMap { case (name, s) =>
      offsets.collectFirst { case (b, end) if end >= s => name -> b }
    }.toMap
  }

  /** The serving reads: a point read of the keyed state, a secondary-index
    * lookup and an MV read. Each returns whether it got a non-empty answer. */
  def readOps: IndexedSeq[(String, Int => Boolean)] = IndexedSeq(
    "serve.get" -> ((i: Int) => ChangelogStream.readKey(spark, dirs.state,
      Seq("table" -> "orders", "id" -> gen.readKeys(i % gen.readKeys.length))).isDefined),
    "serve.lookup" -> ((i: Int) =>
      Index.lookupByValue(spark, dirs.idx, gen.lookupStatus(i)).collect().nonEmpty),
    "serve.mv_read" -> ((_: Int) => Materialize.readMv(spark, dirs.mv).collect().nonEmpty))

  /** Output checks: the state equals the batch oracle over every file the
    * generator wrote, and each derived table equals its recomputation
    * from that oracle state. */
  def check(out: Outcome): Unit = {
    import OrdersPass.same
    val payload = StructType(
      spark.read.parquet(s"$sfDir/orders.parquet").schema.fields ++
        spark.read.parquet(s"$sfDir/customer.parquet").schema.fields)
    val env = StructType(Seq(StructField("id", LongType), StructField("seq", LongType),
      StructField("op", StringType), StructField("table", StringType),
      StructField("payload", payload)))
    val cl = spark.read.schema(env).json(s"$clDir/*.json")
      .select(col("id") +: col("seq") +: col("op") +: col("table") +:
        payload.fieldNames.toSeq.map(c => col(s"payload.$c").as(c)): _*)
    def oracle(table: String, cols: Seq[String]) =
      Apply.latestState(cl.filter(col("table") === table), cols).cache()
    def state(table: String, cols: Seq[String]) =
      ChangelogStream.readState(spark, dirs.state, "table" +: cols)
        .filter(col("table") === table).select(cols.map(col): _*)
    val orders = oracle("orders", Changelog.payloadCols)
    val customers = oracle("customer", Changelog.customerPayloadCols)
    out.check("orders state = Apply.latestState", same(state("orders", Changelog.payloadCols), orders))
    out.check("customer state = Apply.latestState",
      same(state("customer", Changelog.customerPayloadCols), customers))
    def agg(df: DataFrame, group: String) = df.groupBy(col(group))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(DecimalType(18, 4))).cast(DecimalType(38, 4)).as("s"))
    def mv(dir: String, group: String) = Materialize.readMv(spark, dir)
      .filter(col("n") =!= 0).select(col(group), col("n"), col("s").cast(DecimalType(38, 4)).as("s"))
    out.check("status MV = recomputation", same(mv(dirs.mv, "o_orderstatus"), agg(orders, "o_orderstatus")))
    val dim = spark.read.parquet(s"$sfDir/customer.parquet").select("c_custkey", "c_mktsegment")
    out.check("join MV = recomputation", same(mv(dirs.mvJoin, "c_mktsegment"),
      agg(orders.join(dim, col("o_custkey") === col("c_custkey")), "c_mktsegment")))
    val bidi = orders.join(customers.select("c_custkey", "c_mktsegment"),
      col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice").cast(DecimalType(18, 4))), 2)
        .cast("double").as("sum_value"))
    out.check("bidirectional join MV = recomputation",
      same(JoinMv.readMvView(spark, dirs.mvBidi).filter(col("n") =!= 0), bidi))
    out.check("status index = recomputation",
      same(ChangelogStream.readState(spark, dirs.idx, Seq("v", "id")).select("v", "id"),
        orders.select(col("o_orderstatus").as("v"), col("o_orderkey").as("id"))))
    orders.unpersist(); customers.unpersist()
  }

  def stopAndClean(q: StreamingQuery): Unit = { stop(q); OrdersPass.deleteTree(root) }
}

object OrdersPass {
  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Same rows, as multisets (the outputs are small enough to collect). */
  def same(a: DataFrame, b: DataFrame): Boolean = {
    def rows(d: DataFrame) = d.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    rows(a) == rows(b)
  }
}

/** `live`: a running composed pass takes one changelog file per epoch
  * (closed loop: the next file is written once the previous one is
  * readable) while one open-loop reader issues a read every `ReadEveryMs`. */
object LiveBench {
  private val Setups = 3
  // a fifteenth of the sf0.1 fixture's orders and customers, and the
  // sf0.1 trickle's file size (METRICS.md, Sizes)
  val Orders = 10000; val Customers = 1000
  val EventsPerFile = 400
  val ReadEveryMs = 700.0

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int, rec: Recorder,
          meter: Meter, out: Outcome): Unit = {
    val capacity = Orders + 200 * EventsPerFile
    val setupMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pass: OrdersPass = null
    var q: StreamingQuery = null
    for (i <- 1 to Setups) {
      val a = Clock.ms()
      pass = new OrdersPass(spark, work.resolve(s"live-$i"),
        new OrdersGen(seed, Orders, Customers, capacity), rec)
      pass.writeBaseTables()
      pass.writer.write(pass.gen.customerSnapshot())
      pass.writer.write(pass.gen.orderSnapshot(1, Orders + 1))
      q = pass.start(Trigger.ProcessingTime(0L), 1000)
      q.processAllAvailable()
      setupMs += Clock.ms() - a
      Clock.log(s"setup $i done")
      if (i < Setups) pass.stopAndClean(q)
    }
    out.endToEnd("setup_s") = (Stats.median(setupMs.toSeq) / 1000.0, "s")
    // a full collection frees the set-ups' shuffles and broadcasts, and
    // Spark's cleaner deletes them during the untimed warm-up epoch, not
    // during the first timed one (which ran about 20% slower)
    System.gc()
    pass.writer.write(pass.gen.changes(EventsPerFile))
    q.processAllAvailable()
    pass.readOps.zipWithIndex.foreach { case ((_, op), j) => op(j) }

    val epochs0 = pass.postCommit.keySet.asScala.toSet
    val spans0 = Materialize.Spans.snapshot()
    val heap = new HeapMeter
    heap.open()
    val t0 = Clock.ms()
    val reader = new Reader(spark, t0, ReadEveryMs, pass.readOps, rec)
    val fs0 = Probes.fsBytesWritten(); val gc0 = Probes.gcMs()
    meter.open()
    reader.start()
    val timed = scala.collection.mutable.ArrayBuffer.empty[Timed]
    var drained = true
    while (drained && Clock.ms() < t0 + seconds * 1000.0) {
      val due = Clock.ms()
      val f = pass.writer.write(pass.gen.changes(EventsPerFile))
      timed += Timed(f, due)
      drained = try { q.processAllAvailable(); true } catch {
        case e: Exception => out.notes += s"stream failed: $e"; false }
    }
    val tEnd = Clock.ms()
    reader.stop()
    meter.close()
    val fsBytes = Probes.fsBytesWritten() - fs0
    val gc = Probes.gcMs() - gc0
    val (allocMb, retainedMb) = heap.close()
    pass.stop(q)
    Clock.log("timed phase done")

    val visibleAt = pass.fileEpochs().flatMap { case (f, e) =>
      Option(pass.postCommit.get(e)).map(f -> (_: Double)) }
    val epochs = pass.postCommit.keySet.asScala.toSet -- epochs0
    out.count("epochs", epochs.size.toLong + (if (drained) 0 else 1), if (drained) 0 else 1)
    val reads = reader.records.asScala.toSeq
    out.ingestAndServe(timed.toSeq, visibleAt, reads, t0, tEnd, fsBytes, retainedMb)
    if (rec.on) Layers.streaming(pass, epochs, spans0, reads, meter, fsBytes, gc, allocMb, rec, out)
    pass.check(out)
    out.notes += setupMs.map(x => f"${x / 1000}%.1f").mkString("setup s: ", " ", "")
    Clock.log("checks done")
  }
}
