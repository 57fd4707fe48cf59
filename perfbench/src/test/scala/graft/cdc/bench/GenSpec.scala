package graft.cdc.bench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def scratch(): Path = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "genspec-")
  }

  /** Every file a generator run writes, by name. */
  private def files(dir: Path): Map[String, Array[Byte]] =
    Files.list(dir).iterator().asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap

  private def ordersRun(seed: Long, dir: Path): OrdersGen = {
    val gen = new OrdersGen(seed, 500, 50, 5000)
    val w = new ClWriter(dir, "cl")
    w.write(gen.customerSnapshot())
    w.write(gen.orderSnapshot(1, 501))
    (1 to 20).foreach(_ => w.write(gen.changes(40)))
    gen
  }

  private def docsRun(seed: Long, dir: Path): Unit = {
    val gen = new DocsGen(seed, 200, 100)
    val w = new ClWriter(dir, "docs")
    w.write(gen.snapshot())
    (1 to 20).foreach(_ => w.write(gen.changes(20)))
  }

  test("the same seed writes byte-identical changelog files") {
    for (run <- Seq[(Long, Path) => Any](ordersRun, docsRun)) {
      val (a, b, c) = (scratch(), scratch(), scratch())
      run(7L, a); run(7L, b); run(8L, c)
      val (fa, fb, fc) = (files(a), files(b), files(c))
      assert(fa.keySet == fb.keySet && fa.size >= 21)
      fa.foreach { case (name, bytes) => assert(java.util.Arrays.equals(bytes, fb(name)), name) }
      assert(fa.exists { case (name, bytes) => !java.util.Arrays.equals(bytes, fc(name)) },
        "a different seed must change the changelog")
    }
  }

  test("files land under their final path-ordered names only") {
    val dir = scratch()
    ordersRun(1L, dir)
    val names = files(dir).keys.toSeq.sorted
    assert(names.forall(n => n.matches("cl-\\d{6}\\.json")))
    assert(names == (0 until 22).map(i => f"cl-$i%06d.json"))
  }

  test("the read keys are never deleted and the op mix is as stated") {
    val dir = scratch()
    val gen = ordersRun(3L, dir)
    val events = files(dir).toSeq.sortBy(_._1).drop(2)
      .flatMap(f => new String(f._2, "UTF-8").split('\n').toSeq)
    val Op = """\{"id":(\d+),"seq":\d+,"op":"(\w+)","table":"(\w+)".*""".r
    val parsed = events.map { case Op(id, op, table) => (id.toLong, op, table) }
    val readKeys = gen.readKeys.toSet
    assert(readKeys.size == 64)
    assert(!parsed.exists { case (id, op, t) => t == "orders" && op == "DELETE" && readKeys(id) })
    def share(p: ((Long, String, String)) => Boolean) = parsed.count(p).toDouble / parsed.size
    assert(math.abs(share(e => e._3 == "customer") - 0.08) < 0.03)
    assert(share(e => e._2 == "DELETE") > 0.05)
    assert(share(e => e._3 == "orders" && e._2 == "UPDATE") > 0.45)
  }
}
