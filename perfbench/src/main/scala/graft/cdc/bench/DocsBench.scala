package graft.cdc.bench

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{Apply, Changelog, ChangelogStream, Index}
import graft.ops.{Search, Similarity}

/** `docs_index`: a documents + embeddings changelog applied epoch after
  * epoch (closed loop: one file per epoch, written once the previous epoch
  * has committed) while one open-loop reader issues a read every
  * `ReadEveryMs`. Each epoch runs `Search.maintainTextIndexBatch` (doc state, postings,
  * dict, stats, source index) and `Similarity.maintainVectorIndexBatch`
  * (vector state, IVF cells with PQ codes against a frozen quantizer). */
object DocsBench {
  private val Setups = 3
  // a fifteenth of the sf0.1 fixture's documents and embeddings, and the
  // sf0.1 trickle's file size (METRICS.md, Sizes)
  val Docs = 333; val Vecs = 133
  val EventsPerFile = 400
  // the engine's creation knob for a fixture-sized text state
  private val TextBuckets = 8
  val ReadEveryMs = 700.0
  private val Cells = 16; private val PqM = 16; private val PqK = 32

  private val payload = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("source", StringType),
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  private val envelope = StructType(Seq(StructField("id", LongType), StructField("seq", LongType),
    StructField("op", StringType), StructField("table", StringType), StructField("payload", payload)))
  private val docCols = Changelog.documentsPayloadCols
  private val vecCols = Changelog.embeddingsPayloadCols

  private def events(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(envelope).json(files: _*)
      .select(col("id") +: col("seq") +: col("op") +: col("table") +:
        payload.fieldNames.toSeq.map(c => col(s"payload.$c").as(c)): _*)
  private def docs(ev: DataFrame) = ev.filter(col("table") === "documents")
    .select((Seq("id", "seq", "op", "table") ++ docCols).map(col): _*)
  private def vecs(ev: DataFrame) = ev.filter(col("table") === "embeddings")
    .select((Seq("id", "seq", "op", "table") ++ vecCols).map(col): _*)

  /** A frozen coarse quantizer (cl, cvec, cnrm) and PQ codebook
    * (j, cl, cvec, csq) drawn from the seed: the maintainers only need them
    * fixed, not trained. */
  private def quantizer(spark: SparkSession, seed: Long): (DataFrame, DataFrame) = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    def vec(n: Int) = Seq.fill(n)((rng.nextInt(20001) - 10000) / 10000.0)
    val cent = (0 until Cells).map { c =>
      val v = vec(DocsGen.Dim); Row(c, v, math.sqrt(v.map(x => x * x).sum)) }
    val book = for (j <- 0 until PqM; c <- 0 until PqK) yield {
      val v = vec(DocsGen.Dim / PqM); Row(j, c.toLong, v, v.map(x => x * x).sum) }
    val centSchema = StructType(Seq(StructField("cl", IntegerType),
      StructField("cvec", ArrayType(DoubleType)), StructField("cnrm", DoubleType)))
    val bookSchema = StructType(Seq(StructField("j", IntegerType), StructField("cl", LongType),
      StructField("cvec", ArrayType(DoubleType)), StructField("csq", DoubleType)))
    (spark.createDataFrame(cent.asJava, centSchema).localCheckpoint(),
      spark.createDataFrame(book.asJava, bookSchema).localCheckpoint())
  }

  private final class DocsPass(spark: SparkSession, val root: Path, val gen: DocsGen,
                               cent: DataFrame, book: DataFrame) {
    val textState = s"$root/text_state"; val textIdx = s"$root/text_idx"
    val vecState = s"$root/vec_state"; val vecIdx = s"$root/vec_idx"
    val clDir: Path = root.resolve("changelog")
    val writer = new ClWriter(clDir, "docs")
    private var batch = 0L
    /** Apply one epoch: the text and vector maintainers run concurrently
      * (independent states, like the engine's own text + vector passes).
      * Returns (text start, text end, vector start, vector end) in ms. */
    def apply(files: Seq[ClFile]): (Double, Double, Double, Double) = {
      val ev = events(spark, files.map(f => clDir.resolve(f.name).toString)).cache()
      val id = batch
      def timed(body: => Unit): Future[(Double, Double)] = Future {
        val a = Clock.ms(); body; (a, Clock.ms())
      }(ExecutionContext.global)
      val vector = timed(Similarity.maintainVectorIndexBatch(vecs(ev), id, vecState, vecIdx,
        cent, book, noTruncate = true))
      val text = timed(Search.maintainTextIndexBatch(docs(ev), id, textState, textIdx,
        noTruncate = true, initialBuckets = TextBuckets))
      val (t, v) = try (Await.result(text, Duration.Inf), Await.result(vector, Duration.Inf))
        finally { Await.ready(vector, Duration.Inf); ev.unpersist() }
      batch += 1
      (t._1, t._2, v._1, v._2)
    }
    def readOps: IndexedSeq[(String, Int => Boolean)] = IndexedSeq(
      "serve.get" -> ((i: Int) => ChangelogStream.readKey(spark, textState,
        gen.readKeys(i % gen.readKeys.length)).isDefined),
      "serve.lookup" -> ((i: Int) =>
        Index.lookupByValue(spark, s"$textState/_srcidx", gen.lookupSource(i)).collect().nonEmpty),
      "serve.mv_read" -> ((i: Int) => ChangelogStream.readKey(spark, vecState,
        gen.readKeys((i + 7) % gen.readKeys.length)).isDefined))

    /** Output checks: the doc and vector states equal the batch oracle
      * over every file the generator wrote; the source index equals that
      * oracle projected to (source, doc id); and the postings, term
      * dictionary, corpus stats and vector cells (with their PQ codes)
      * equal what one maintainer call over the oracle state writes into
      * fresh directories. */
    def check(out: Outcome): Unit = {
      import OrdersPass.same
      val ev = events(spark, Files.list(clDir).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".json")).toSeq)
      val docsOracle = Apply.latestState(docs(ev), docCols).cache()
      val vecsOracle = Apply.latestState(vecs(ev), vecCols).cache()
      out.check("docs state = Apply.latestState", same(
        ChangelogStream.readState(spark, textState, docCols).select(docCols.map(col): _*),
        docsOracle))
      out.check("vector state = Apply.latestState", same(
        ChangelogStream.readState(spark, vecState, vecCols).select(vecCols.map(col): _*),
        vecsOracle))
      out.check("source index = recomputation", same(
        ChangelogStream.readState(spark, s"$textState/_srcidx", Seq("v", "id")).select("v", "id"),
        docsOracle.select(col("source").as("v"), col("doc_id").as("id"))))

      def inserts(state: DataFrame, table: String, key: String, cols: Seq[String]) =
        state.select(Seq(col(key).as("id"), lit(0L).as("seq"), lit("INSERT").as("op"),
          lit(table).as("table")) ++ cols.map(col): _*)
      val ref = root.resolve("oracle")
      val refVec = Future(Similarity.maintainVectorIndexBatch(
        inserts(vecsOracle, "embeddings", "vec_id", vecCols), 0L,
        s"$ref/vec_state", s"$ref/vec_idx", cent, book, noTruncate = true))(ExecutionContext.global)
      try Search.maintainTextIndexBatch(inserts(docsOracle, "documents", "doc_id", docCols), 0L,
        s"$ref/text_state", s"$ref/text_idx", noTruncate = true, initialBuckets = TextBuckets)
      finally Await.result(refVec, Duration.Inf)
      def postings(idx: String) =
        ChangelogStream.readState(spark, idx, Seq("tok", "id", "tf")).select("tok", "id", "tf")
      def cells(idx: String) =
        ChangelogStream.readState(spark, idx, Seq("cell", "id", "codes")).select("cell", "id", "codes")
      out.check("postings = one pass over the oracle state",
        same(postings(textIdx), postings(s"$ref/text_idx")))
      out.check("term dictionary = one pass over the oracle state",
        same(Search.dictTerms(spark, textIdx), Search.dictTerms(spark, s"$ref/text_idx")))
      out.check("corpus stats = one pass over the oracle state",
        same(Search.corpusStats(spark, textIdx), Search.corpusStats(spark, s"$ref/text_idx")))
      out.check("vector cells and PQ codes = one pass over the oracle state",
        same(cells(vecIdx), cells(s"$ref/vec_idx")))
      docsOracle.unpersist(); vecsOracle.unpersist()
    }
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int, rec: Recorder,
          meter: Meter, out: Outcome): Unit = {
    val setupMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pass: DocsPass = null
    for (i <- 1 to Setups) {
      val a = Clock.ms()
      val (cent, book) = quantizer(spark, seed)
      pass = new DocsPass(spark, work.resolve(s"docs-$i"), new DocsGen(seed, Docs, Vecs), cent, book)
      pass.apply(Seq(pass.writer.write(pass.gen.snapshot())))
      setupMs += Clock.ms() - a
      Clock.log(s"setup $i done")
      if (i < Setups) OrdersPass.deleteTree(pass.root)
    }
    out.endToEnd("setup_s") = (Stats.median(setupMs.toSeq) / 1000.0, "s")
    // untimed warm-up after a full collection (see LiveBench)
    System.gc()
    pass.apply(Seq(pass.writer.write(pass.gen.changes(EventsPerFile))))
    pass.readOps.zipWithIndex.foreach { case ((_, op), j) => op(j) }

    val heap = new HeapMeter
    heap.open()
    val t0 = Clock.ms()
    val reader = new Reader(spark, t0, ReadEveryMs, pass.readOps, rec)
    val fs0 = Probes.fsBytesWritten(); val gc0 = Probes.gcMs()
    meter.open()
    reader.start()
    val timed = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val visibleAt = scala.collection.mutable.HashMap.empty[String, Double]
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    var failed = 0
    while (failed == 0 && Clock.ms() < t0 + seconds * 1000.0) {
      val due = Clock.ms()
      val f = pass.writer.write(pass.gen.changes(EventsPerFile))
      timed += Timed(f, due)
      val e = calls.size
      try {
        val c = pass.apply(Seq(f))
        val end = Clock.ms()
        calls += c
        visibleAt(f.name) = end
        val root = rec.add("docs.epoch", due, end, ref = e)
        rec.add("search.maintain", c._1, c._2, root, e)
        rec.add("similarity.maintain", c._3, c._4, root, e)
      } catch { case ex: Exception => failed += 1; out.notes += s"epoch $e failed: $ex" }
    }
    val tEnd = Clock.ms()
    reader.stop()
    meter.close()
    val fsBytes = Probes.fsBytesWritten() - fs0
    val gc = Probes.gcMs() - gc0
    val (allocMb, retainedMb) = heap.close()
    Clock.log("timed phase done")

    out.count("epochs", (calls.size + failed).toLong, failed.toLong)
    val reads = reader.records.asScala.toSeq
    out.ingestAndServe(timed.toSeq, visibleAt.toMap, reads, t0, tEnd, fsBytes, retainedMb)
    if (rec.on) {
      val n = math.max(1, calls.size).toDouble
      Layers.set(out, "search.maintain_ms", calls.map(c => c._2 - c._1).sum / n)
      Layers.set(out, "similarity.maintain_ms", calls.map(c => c._4 - c._3).sum / n)
      Layers.engine(calls.size, meter, fsBytes, gc, allocMb, out)
      Layers.serve(reads, meter, out)
    }
    pass.check(out)
    out.notes += setupMs.map(x => f"${x / 1000}%.1f").mkString("setup s: ", " ", "")
    Clock.log("checks done")
  }
}
