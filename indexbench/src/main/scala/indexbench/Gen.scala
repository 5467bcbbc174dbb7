package indexbench

import graft.model.{Cell, MutationEvent}
import java.util.SplittableRandom

/** Seeded event generator. Every event is a pure function of
  * (seed, stream, index), so Spark can generate a large input in parallel
  * and the reference replay can regenerate the same events on the driver
  * without keeping them in memory.
  *
  * An event is either a put of all [[Gen.Fields]] string fields of one row
  * (a complete row) or a whole-row delete. A `staleShare` of the events
  * carries a `writeTime` before the indexer's subscription timestamp, so
  * the streaming path must drop them (the applicable-share check).
  */
object Gen {
  val Table = "docs"
  val Family = "f"
  val Fields = 8
  val FieldNames: IndexedSeq[String] = (0 until Fields).map(i => s"c${i}_s")
  /** Subscription timestamp of every registered indexer (ns). */
  val SubscriptionTs = 1000000000000000L

  val ConfXml: String =
    s"""<indexer table="$Table" read-row="never">
       |${(0 until Fields).map(i => s"""  <field name="${FieldNames(i)}" value="$Family:c$i" type="string"/>""").mkString("\n")}
       |</indexer>""".stripMargin

  /** One stream of events.
    *  - `keys`: key space; `zipf` > 0 draws keys Zipf(zipf), 0 draws uniformly,
    *    and a negative value makes event i the put of row i (a snapshot).
    *  - `seqBase`: seq of event 0; later events have larger seq.
    */
  final case class Spec(seed: Long, stream: Int, keys: Int, zipf: Double,
                        deleteShare: Double, staleShare: Double, seqBase: Long) {
    @transient private lazy val cdf: Array[Double] =
      if (zipf <= 0) Array.emptyDoubleArray
      else {
        val w = Array.tabulate(keys)(k => 1.0 / math.pow(k + 1, zipf))
        val total = w.sum
        var acc = 0.0
        w.map { x => acc += x / total; acc }
      }

    private def rng(i: Long): SplittableRandom =
      new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i))

    /** Key of event i. Zipf rank k is row k; the md5 bucket route spreads
      * the hot rows over the buckets. */
    private def keyOf(r: SplittableRandom, i: Long): Int =
      if (zipf < 0) i.toInt
      else if (zipf == 0) r.nextInt(keys)
      else {
        val u = r.nextDouble()
        var lo = 0; var hi = keys - 1
        while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
        lo
      }

    def event(i: Long): Ev = {
      val r = rng(i)
      val key = keyOf(r, i)
      val del = zipf >= 0 && r.nextDouble() < deleteShare
      val stale = zipf >= 0 && r.nextDouble() < staleShare
      val seq = seqBase + i
      val wt = if (stale) SubscriptionTs - 1 - i else SubscriptionTs + i
      val values = if (del) null else Array.fill(Fields)(word(r))
      Ev(f"r$key%08d", seq, wt, values)
    }
  }

  /** A generated event; `values == null` is a whole-row delete. */
  final case class Ev(rowKey: String, seq: Long, writeTime: Long, values: Array[String]) {
    def applicable: Boolean = writeTime >= SubscriptionTs
    def toMutation: MutationEvent = MutationEvent(Table, rowKey, seq, writeTime,
      if (values == null) Seq(Cell(Family, "", seq, graft.model.CellType.DeleteRow, null))
      else values.indices.map(k => Cell(Family, s"c$k", seq, graft.model.CellType.Put, values(k))),
      None)
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def word(r: SplittableRandom): String = {
    val n = 6 + r.nextInt(11)
    val sb = new java.lang.StringBuilder(n)
    var k = 0
    while (k < n) { sb.append(Alphabet.charAt(r.nextInt(Alphabet.length))); k += 1 }
    sb.toString
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** An order-free checksum of an index: doc count, (id, field, value)
  * count and the sum of their xxhash64 values, split into two 32-bit
  * halves so the sums never overflow. */
final case class Checksum(docs: Long, cells: Long, hashHi: Long, hashLo: Long) {
  def +(h: Long): Checksum = copy(cells = cells + 1, hashHi = hashHi + (h >>> 32),
    hashLo = hashLo + (h & 0xFFFFFFFFL))
  def show: String = s"docs=$docs cells=$cells hash=$hashHi/$hashLo"
}

object Checksum {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.sql.catalyst.expressions.XXH64

  val Empty: Checksum = Checksum(0, 0, 0, 0)

  /** Spark's `xxhash64(id, field, value)` (seed 42, chained per column),
    * computed on the driver for the reference. */
  def cellHash(id: String, field: String, value: String): Long =
    Seq(id, field, value).foldLeft(42L) { (h, s) =>
      val b = s.getBytes("UTF-8")
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, h)
    }

  /** Reference docs (id -> field values) to a checksum. */
  def ofDocs(docs: scala.collection.Map[String, Array[String]]): Checksum =
    docs.foldLeft(Empty) { case (c, (id, vs)) =>
      vs.indices.foldLeft(c.copy(docs = c.docs + 1))((cc, k) => cc + cellHash(id, Gen.FieldNames(k), vs(k)))
    }

  /** Full read of an (id, doc) frame to its checksum, in one job. */
  def of(df: DataFrame): Checksum = {
    val cells = df.select(col("id"), posexplode(col("doc")).as(Seq("pos", "f", "vs")))
      .select(col("id"), col("pos"), col("f"), explode(col("vs")).as("v"))
      .select(col("pos"), xxhash64(col("id"), col("f"), col("v")).as("h"))
    val r = cells.agg(
      count(when(col("pos") === 0, 1)), count(lit(1)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))).head()
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }
}

/** The reference replay: files in order, applicable events only,
  * last-wins by seq within a file, a delete-only result removes the doc,
  * and a put maps its 8 fields. `perturb` flips last-wins to first-wins
  * (used once to show the gate fails on a wrong reference). */
final class Reference(perturb: Boolean = false) {
  val docs = new java.util.HashMap[String, Array[String]]()
  var events = 0L
  var applicable = 0L

  def applyFile(evs: Iterator[Gen.Ev]): Unit = {
    val latest = new java.util.HashMap[String, Gen.Ev]()
    evs.foreach { e =>
      events += 1
      if (e.applicable) {
        applicable += 1
        val cur = latest.get(e.rowKey)
        val keep = cur == null || (if (perturb) e.seq < cur.seq else e.seq > cur.seq)
        if (keep) latest.put(e.rowKey, e)
      }
    }
    latest.forEach { (k, e) => if (e.values == null) docs.remove(k) else docs.put(k, e.values) }
  }

  def checksum: Checksum = {
    import scala.jdk.CollectionConverters._
    Checksum.ofDocs(docs.asScala)
  }
}
