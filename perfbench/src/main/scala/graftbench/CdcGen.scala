package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** A lake document as the change stream carries it. `p` is the target's
  * partition and never changes for a key.
  */
final case class Doc(id: String, p: String, v: Long, amt: String, note: String)

/** One change-stream event. `ctMs` is the clusterTime in epoch ms. */
final case class Envelope(op: String, doc: Doc, ctMs: Long)

/** Seeded generator of Mongo change-stream envelope batches, plus the
  * in-memory last-wins state the merged tables must equal.
  *
  * Each batch holds `size` envelopes: fresh-key inserts, updates of keys
  * from earlier batches, and in-batch duplicates of keys already in the
  * batch. Envelopes share clusterTimes in groups of four, so duplicates tie
  * on clusterTime and the tie column `v` (a global sequence number) picks
  * the winner; some duplicates carry an older clusterTime and must lose to
  * the earlier envelope. clusterTime grows from batch to batch.
  */
final class CdcGen(seed: Long, partitions: Int, size: Int) {
  private val rnd = new SplittableRandom(seed)
  private var nextKey = 0L
  private var seq = 0L
  private val state = mutable.HashMap.empty[String, Doc]
  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  def expected: Map[String, Doc] = state.toMap
  def distinctKeys: Int = state.size

  private def doc(k: Long): Doc = {
    seq += 1
    val cents = rnd.nextLong(100000L)
    Doc(f"k$k%09d", f"p${k % partitions}%02d", seq,
      s"${cents / 100}.${f"${cents % 100}%02d"}", CdcGen.Words(rnd.nextInt(CdcGen.Words.size)))
  }

  /** Batch `b`: `inserts` fresh keys on the first batch, the configured mix
    * afterwards. Batches must be drawn in order.
    */
  def batch(b: Int, inserts: Int = -1): Seq[Envelope] = {
    val nIns = if (inserts >= 0) inserts else size / 2
    val nUpd = if (inserts >= 0) 0 else size * 3 / 10
    val nDup = if (inserts >= 0) 0 else size - nIns - nUpd
    val base = BaseMs + b.toLong * 3600000L
    val known = nextKey
    val out = mutable.ArrayBuffer.empty[Envelope]
    def ct(i: Int): Long = base + (i / 4) * 1000L
    for (_ <- 0 until nIns) {
      val k = nextKey; nextKey += 1
      out += Envelope("insert", doc(k), ct(out.size))
    }
    for (_ <- 0 until nUpd if known > 0)
      out += Envelope("update", doc(rnd.nextLong(known)), ct(out.size))
    for (_ <- 0 until nDup) {
      val orig = out(rnd.nextInt(out.size))
      val k = orig.doc.id.drop(1).toLong
      // half tie on clusterTime (the later sequence number wins), half
      // arrive late with an older clusterTime (the earlier envelope wins)
      val t = if (rnd.nextBoolean()) orig.ctMs else orig.ctMs - 500L
      out += Envelope("update", doc(k), t)
    }
    // the batch is shuffled: file order must not decide the winner
    val shuffled = out.toArray
    for (i <- shuffled.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val tmp = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = tmp
    }
    shuffled.groupBy(_.doc.id).foreach { case (id, es) =>
      state(id) = es.maxBy(e => (e.ctMs, e.doc.v)).doc
    }
    shuffled.toSeq
  }
}

object CdcGen {
  val Words: IndexedSeq[String] = IndexedSeq("alpha", "bravo", "charlie", "delta",
    "echo", "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  private val Iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  private def iso(ms: Long): String = Iso.format(java.time.Instant.ofEpochMilli(ms))

  /** The envelope as one JSON line, `fullDocument` a JSON string. */
  def line(e: Envelope): String = {
    val d = e.doc
    val full = s"""{"id":"${d.id}","p":"${d.p}","v":${d.v},"amt":${d.amt},"note":"${d.note}"}"""
    val esc = full.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"operationType":"${e.op}","documentKey":"${d.id}","fullDocument":"$esc","clusterTime":"${iso(e.ctMs)}"}"""
  }

  def bytes(batch: Seq[Envelope]): Array[Byte] =
    batch.map(line).mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
}
