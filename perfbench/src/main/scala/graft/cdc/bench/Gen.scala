package graft.cdc.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One changelog file the generator wrote: its path-ordered name, the
  * number of events in it and its size. */
final case class ClFile(name: String, events: Int, bytes: Long)

/** Writes changelog files the way a producer must for the engine's source:
  * the bytes go to a hidden name in a sibling staging directory first and
  * are renamed into place, so admission never sees a partial file. The
  * staging name is outside the watched directory because the source's
  * recursive listing stats every entry before it skips hidden names, and
  * fails the query when one is renamed away between the two. Names are
  * zero-padded so path order is write order. */
final class ClWriter(dir: Path, prefix: String) {
  Files.createDirectories(dir)
  private val staging = Files.createDirectories(dir.resolveSibling(s".${dir.getFileName}-staging"))
  private var n = 0
  def write(lines: Seq[String]): ClFile = {
    val name = f"$prefix-$n%06d.json"
    n += 1
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val tmp = staging.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ClFile(name, lines.size, bytes.length.toLong)
  }
}

object Fmt {
  /** Fixed two-decimal rendering of a cent amount (no locale, no float
    * formatting, so the bytes depend only on the value). */
  def cents(c: Long): String = {
    val a = math.abs(c)
    (if (c < 0) "-" else "") + (a / 100) + "." + (if (a % 100 < 10) "0" else "") + (a % 100)
  }
  /** Fixed four-decimal rendering of a value given in 1e-4 units. */
  def tenThousandths(v: Int): String = {
    val a = math.abs(v)
    val frac = (a % 10000).toString
    (if (v < 0) "-" else "") + (a / 10000) + "." + ("0" * (4 - frac.length)) + frac
  }
  def envelope(id: Long, seq: Long, op: String, table: String, payload: String): String =
    s"""{"id":$id,"seq":$seq,"op":"$op","table":"$table","payload":$payload}"""
}

/** Seeded generator for the orders + customers changelog.
  *
  * The snapshot holds `nOrders` orders over `nCustomers` customers. Later
  * events follow a fixed op mix: UPDATE of a Zipf-skewed existing order
  * (new price, sometimes a new status), INSERT of a new order, DELETE of a
  * Zipf-skewed existing order, and a customer segment move. The hottest
  * `readKeys` orders are never deleted, so point reads on them always find
  * a row. Everything is a pure function of the seed. `capacity` bounds the
  * order keys ever issued. */
final class OrdersGen(seed: Long, nOrders: Int, nCustomers: Int, capacity: Int) {
  import OrdersGen._
  private val rng = new SplittableRandom(seed)
  private var seq = 0L
  private def nextSeq(): Long = { seq += 1; seq }

  // order key -> (custkey, status, price cents, date, priority); absent = deleted
  private val custOf = new Array[Long](capacity + 1)
  private val statusOf = new Array[Int](capacity + 1)
  private val priceOf = new Array[Long](capacity + 1)
  private val dateOf = new Array[Int](capacity + 1)
  private val prioOf = new Array[Int](capacity + 1)
  private val alive = new java.util.BitSet(capacity + 1)
  private var nextKey = nOrders + 1
  private val segOf = Array.fill(nCustomers + 1)(0)
  private val nationOf = Array.fill(nCustomers + 1)(0)
  private val balOf = Array.fill(nCustomers + 1)(0L)

  // rank -> key: a seeded permutation, so hot keys are scattered over buckets
  private val hot: Array[Int] = {
    val a = Array.tabulate(nOrders)(_ + 1)
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  private val zipf = new Zipf(nOrders, 1.1)
  val readKeys: Array[Long] = hot.take(64).map(_.toLong)
  private val protectedKeys = readKeys.toSet

  private def newOrder(k: Int): Unit = {
    custOf(k) = 1L + rng.nextInt(nCustomers)
    statusOf(k) = rng.nextInt(Statuses.length)
    priceOf(k) = 100000L + rng.nextInt(40000000)
    dateOf(k) = rng.nextInt(2400)
    prioOf(k) = rng.nextInt(Priorities.length)
    alive.set(k)
  }
  for (c <- 1 to nCustomers) {
    segOf(c) = rng.nextInt(Segments.length)
    nationOf(c) = rng.nextInt(25)
    balOf(c) = rng.nextInt(1000000).toLong - 100000L
  }
  for (k <- 1 to nOrders) newOrder(k)

  private def orderPayload(k: Int): String =
    s"""{"o_orderkey":$k,"o_custkey":${custOf(k)},"o_orderstatus":"${Statuses(statusOf(k))}",""" +
      s""""o_totalprice":${Fmt.cents(priceOf(k))},"o_orderdate":"${Dates(dateOf(k))}",""" +
      s""""o_orderpriority":"${Priorities(prioOf(k))}"}"""
  private def customerPayload(c: Int): String =
    f"""{"c_custkey":$c,"c_name":"Customer#$c%09d","c_nationkey":${nationOf(c)},""" +
      s""""c_acctbal":${Fmt.cents(balOf(c))},"c_mktsegment":"${Segments(segOf(c))}"}"""
  private def orderEvent(op: String, k: Int): String =
    Fmt.envelope(k, nextSeq(), op, "orders", orderPayload(k))
  private def customerEvent(op: String, c: Int): String =
    Fmt.envelope(c, nextSeq(), op, "customer", customerPayload(c))

  /** Snapshot rows for the base tables (the engine reads its payload
    * schema and the static join dimension from them). */
  def ordersRows: Seq[org.apache.spark.sql.Row] = (1 to nOrders).map { k =>
    org.apache.spark.sql.Row(k.toLong, custOf(k), Statuses(statusOf(k)),
      priceOf(k) / 100.0, java.sql.Date.valueOf(Dates(dateOf(k))), Priorities(prioOf(k)))
  }
  def customerRows: Seq[org.apache.spark.sql.Row] = (1 to nCustomers).map { c =>
    org.apache.spark.sql.Row(c.toLong, f"Customer#$c%09d", nationOf(c),
      balOf(c) / 100.0, Segments(segOf(c)))
  }

  /** INSERT events of every customer, and of the orders in [from, until). */
  def customerSnapshot(): Seq[String] = (1 to nCustomers).map(customerEvent("INSERT", _))
  def orderSnapshot(from: Int, until: Int): Seq[String] =
    (from until until).map(orderEvent("INSERT", _))

  private def pickLive(allowProtected: Boolean): Int = {
    var tries = 0
    while (tries < 16) {
      val k = hot(zipf.sample(rng))
      if (alive.get(k) && (allowProtected || !protectedKeys(k))) return k
      tries += 1
    }
    -1
  }

  /** `n` events of the stated mix: 60% order UPDATE, 20% order INSERT,
    * 12% order DELETE, 8% customer segment move. */
  def changes(n: Int): Seq[String] = (0 until n).map { _ =>
    val r = rng.nextInt(100)
    def insert(): String = {
      require(nextKey <= capacity, s"order key capacity $capacity exhausted")
      val k = nextKey; nextKey += 1; newOrder(k); orderEvent("INSERT", k)
    }
    if (r < 60) {
      val k = pickLive(allowProtected = true)
      if (k < 0) insert()
      else {
        priceOf(k) = 100000L + rng.nextInt(40000000)
        if (rng.nextInt(4) == 0) statusOf(k) = rng.nextInt(Statuses.length)
        orderEvent("UPDATE", k)
      }
    } else if (r < 80) insert()
    else if (r < 92) {
      val k = pickLive(allowProtected = false)
      if (k < 0) insert()
      else { val e = orderEvent("DELETE", k); alive.clear(k); e }
    } else {
      val c = 1 + rng.nextInt(nCustomers)
      segOf(c) = (segOf(c) + 1 + rng.nextInt(Segments.length - 1)) % Segments.length
      customerEvent("UPDATE", c)
    }
  }

  /** A lookup value for the status index (every status keeps members). */
  def lookupStatus(i: Int): String = Statuses(i % Statuses.length)
}

object OrdersGen {
  val Statuses: Array[String] = Array.tabulate(24)(i => f"S$i%02d")
  val Segments: Array[String] =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Array[String] =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Dates: Array[String] = {
    val d0 = java.time.LocalDate.of(1992, 1, 1)
    Array.tabulate(2400)(i => d0.plusDays(i.toLong).toString)
  }
}

/** Seeded generator for the documents + embeddings changelog. `nDocs`
  * documents of Zipf-distributed words from a synthetic vocabulary (60 to
  * 120 words, about 300 characters) and `nVecs` 64-dim embeddings with four
  * decimals. Later events UPDATE (new text / new vector), INSERT new items
  * and DELETE items outside the read set. */
final class DocsGen(seed: Long, val nDocs: Int, val nVecs: Int) {
  import DocsGen._
  require(nVecs >= 64 && nDocs >= 64, "the 64 read keys need a document and an embedding")
  private val rng = new SplittableRandom(seed)
  private var seq = 0L
  private def nextSeq(): Long = { seq += 1; seq }
  private val vocab = Array.tabulate(Vocab)(word)
  private val wordZipf = new Zipf(Vocab, 1.0)
  private val alive = new java.util.BitSet()
  private val vecAlive = new java.util.BitSet()
  private val sourceOf = scala.collection.mutable.HashMap.empty[Int, Int]
  private var nextDoc = nDocs + 1
  private var nextVec = nVecs + 1
  val readKeys: Array[Long] = (1 to 64).map(_.toLong).toArray

  private def text(): String =
    Seq.fill(60 + rng.nextInt(61))(vocab(wordZipf.sample(rng))).mkString(" ")
  private def vector(): String =
    Seq.fill(Dim)(Fmt.tenThousandths(rng.nextInt(20001) - 10000)).mkString("[", ",", "]")
  private def docEvent(op: String, d: Int): String = {
    val src = sourceOf.getOrElseUpdate(d, rng.nextInt(Sources.length))
    Fmt.envelope(d, nextSeq(), op, "documents",
      s"""{"doc_id":$d,"text":"${text()}","source":"${Sources(src)}"}""")
  }
  private def vecEvent(op: String, d: Int): String =
    Fmt.envelope(d, nextSeq(), op, "embeddings", s"""{"vec_id":$d,"embedding":${vector()}}""")

  /** INSERT of every document and every embedding. */
  def snapshot(): Seq[String] = {
    (1 to nDocs).foreach(alive.set); (1 to nVecs).foreach(vecAlive.set)
    (1 to nDocs).map(docEvent("INSERT", _)) ++ (1 to nVecs).map(vecEvent("INSERT", _))
  }

  private def pick(set: java.util.BitSet, until: Int, allowRead: Boolean): Int = {
    var tries = 0
    while (tries < 16) {
      val d = 1 + rng.nextInt(until - 1)
      if (set.get(d) && (allowRead || d > readKeys.length)) return d
      tries += 1
    }
    -1
  }

  /** `n` events: 50% UPDATE, 30% INSERT, 20% DELETE, alternating between
    * documents and embeddings. */
  def changes(n: Int): Seq[String] = (0 until n).map { i =>
    val docs = i % 2 == 0
    val set = if (docs) alive else vecAlive
    val r = rng.nextInt(10)
    def insert(): String =
      if (docs) { val d = nextDoc; nextDoc += 1; set.set(d); docEvent("INSERT", d) }
      else { val d = nextVec; nextVec += 1; set.set(d); vecEvent("INSERT", d) }
    val until = if (docs) nextDoc else nextVec
    val d = if (r < 5) pick(set, until, allowRead = true) else if (r < 8) -1
      else pick(set, until, allowRead = false)
    if (d < 0) insert()
    else if (r < 5) { if (docs) docEvent("UPDATE", d) else vecEvent("UPDATE", d) }
    else { set.clear(d); if (docs) docEvent("DELETE", d) else vecEvent("DELETE", d) }
  }

  def lookupSource(i: Int): String = Sources(i % Sources.length)
}

object DocsGen {
  val Dim = 64
  val Vocab = 2000
  /** As many sources as the sf0.1 documents fixture has. */
  val Sources: Array[String] = Array.tabulate(20)(i => f"src$i%02d")
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 26
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.toString
  }
}
