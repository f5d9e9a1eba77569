package graftbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private def batches(seed: Long, n: Int): Seq[Array[Byte]] = {
    val g = new CdcGen(seed, 4, 50)
    CdcGen.bytes(g.batch(0, inserts = 100)) +: (1 until n).map(b => CdcGen.bytes(g.batch(b)))
  }

  test("the same seed gives byte-identical envelope files") {
    val a = batches(7, 5)
    val b = batches(7, 5)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!java.util.Arrays.equals(a(3), batches(8, 5)(3)), "another seed, other envelopes")
  }

  test("the generator's state is last-wins by clusterTime, then by the tie column") {
    val g = new CdcGen(3, 4, 200)
    g.batch(0, inserts = 50)
    val es = g.batch(1)
    assert(es.size == 200)
    assert(es.groupBy(_.doc.id).exists(_._2.size > 1), "in-batch duplicate keys")
    assert(es.groupBy(_.ctMs).exists(_._2.size > 1), "clusterTime ties")
    // some duplicate arrives with an older clusterTime than an earlier envelope
    val late = es.groupBy(_.doc.id).values.exists { dup =>
      dup.exists(a => dup.exists(b => b.doc.v > a.doc.v && b.ctMs < a.ctMs))
    }
    assert(late, "late duplicates that must lose")
    es.groupBy(_.doc.id).foreach { case (id, dup) =>
      assert(g.expected(id) == dup.maxBy(e => (e.ctMs, e.doc.v)).doc)
    }
    assert(g.distinctKeys == g.expected.size)
  }

  test("the same seed gives the same statement list") {
    val a = Statements.generate(5, 2, 15000)
    assert(a == Statements.generate(5, 2, 15000))
    assert(a != Statements.generate(6, 2, 15000))
    val timed = a.drop(Statements.Warmup.size)
    assert(timed.size == 2 * (Statements.Cycle.size + 2))
    val reads = timed.count(s => Statements.SqlReads(s.kind))
    val writes = timed.count(s => Statements.Writes(s.kind))
    assert(reads * 3 == writes * 7, "70% reads, 30% writes among SQL statements")
  }

  test("tail: the highest percentile with ten samples beyond it") {
    assert(Stats.tail(Seq.fill(10)(1.0)).isEmpty, "ten samples leave none beyond any percentile")
    val xs = (1 to 40).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 30.0 && t.percentile == 75.0 && t.n == 40)
    assert(xs.count(_ > t.value) == 10)
    val u = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(u.value == 1.0 && u.n == 11)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time: a span's duration minus the union of its clipped children") {
    val parent = Span(1, 0, "p", "op", 0, 100, 200)
    val kids = Seq(
      Span(2, 1, "a", "spark", 0, 110, 130),
      Span(3, 1, "b", "spark", 0, 120, 150), // overlaps a
      Span(4, 1, "c", "spark", 0, 190, 260)) // runs past the parent
    assert(Trace.unionLength(kids.map(k => (k.startNs, k.endNs))) == 110)
    assert(Trace.selfTime(parent, kids) == 100 - 40 - 10)
    val byLayer = Trace.selfTimeByLayer(parent +: kids)
    assert(byLayer("op") == 50)
    assert(byLayer("spark") == 20 + 30 + 70)
  }

  test("CountingFs counts driver calls and bytes written between snapshots") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new CountingFs
    fs.initialize(java.net.URI.create("file:///"), conf)
    val dir = java.nio.file.Files.createTempDirectory("countingfs")
    val f = new org.apache.hadoop.fs.Path(dir.toString, "_meta")
    val before = CountingFs.snapshot()
    val out = fs.create(f, true)
    out.write(Array.fill[Byte](100)(1))
    out.close()
    fs.listStatus(new org.apache.hadoop.fs.Path(dir.toString))
    fs.open(f).close()
    fs.rename(f, new org.apache.hadoop.fs.Path(dir.toString, "data"))
    fs.delete(new org.apache.hadoop.fs.Path(dir.toString), true)
    val d = CountingFs.delta(before, CountingFs.snapshot())
    assert(d("driver.create") == 1 && d("driver.list") == 1 && d("driver.open") == 1)
    assert(d("driver.open_meta") == 1, "_meta is a metadata file")
    assert(d("driver.rename") == 1 && d("driver.delete") == 1)
    assert(d("executor.create") == 0)
    assert(d("bytes_written") == 100)
  }
}
