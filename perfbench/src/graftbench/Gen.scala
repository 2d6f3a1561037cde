package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Order-independent digest of a record multiset: count, byte sum and
  * the wrapping sum of a 64-bit FNV-1a hash per record.
  */
final class Tally extends Serializable {
  var n = 0L
  var bytes = 0L
  var hash = 0L
  def add(p: Array[Byte]): Unit = { n += 1; bytes += p.length; hash += Tally.fnv(p) }
  def same(n2: Long, bytes2: Long, hash2: Long): Boolean =
    n == n2 && bytes == bytes2 && hash == hash2
  override def toString: String = s"(n=$n, bytes=$bytes, hash=$hash)"
}

object Tally {
  def fnv(p: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < p.length) { h = (h ^ (p(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }
}

/** Seeded input generators. Every record, document and timestamp is a
  * pure function of (seed, index), so tasks generate their slice
  * independently and the client JVM recomputes the expected digests without
  * reading anything back through the program under test.
  */
object Gen {
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  private val DayMicros = 86400L * 1000000L

  def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 1)

  private val Types = Array("view", "click", "add_to_cart", "purchase", "search", "share")
  private val Refs = Array("search", "email", "direct", "social", "ads")

  /** A JSON-shaped event of ~120-190 bytes: keys repeat and values are
    * drawn from small vocabularies, so it compresses like real event
    * logs (about 3-4x), unlike the random-byte tail.
    */
  def jsonEvent(r: SplittableRandom, id: Long, tsMicros: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(192)
    sb.append("{\"event_id\":").append(id)
      .append(",\"user\":\"u").append(100000 + r.nextInt(900000))
      .append("\",\"type\":\"").append(Types(r.nextInt(Types.length)))
      .append("\",\"ts\":").append(tsMicros / 1000)
      .append(",\"page\":\"/p/").append(r.nextInt(50000))
      .append("\",\"ref\":\"").append(Refs(r.nextInt(Refs.length)))
      .append("\",\"score\":").append(r.nextInt(1000)).append('.').append(r.nextInt(1000))
      .append(",\"session\":\"").append(java.lang.Long.toHexString(r.nextLong()))
      .append("\",\"items\":[")
    val k = r.nextInt(4)
    var j = 0
    while (j < k) { if (j > 0) sb.append(','); sb.append(r.nextInt(100000)); j += 1 }
    sb.append("]}")
    sb.toString.getBytes("UTF-8")
  }

  def randomBytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  private val RecordSchema = StructType(Seq(
    StructField("data", BinaryType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  // ---------------------------------------------------------------- stream

  /** The multi-day stream replayed whole by `tape_replay`: mostly small
    * JSON events, a random-byte tail of large records (log-uniform
    * 1 KB..tailMaxBytes), and `oversize` planted records above the 1 MB
    * PutRecords cap that replay must drop.
    */
  final case class StreamParams(small: Int, tail: Int, tailMaxBytes: Int,
                                oversize: Int, days: Int) {
    def total: Int = small + tail + oversize
  }

  val Small: Byte = 0
  val TailKind: Byte = 1
  val Oversize: Byte = 2

  /** Seeded positions of the tail and oversize records. */
  def streamKinds(seed: Long, p: StreamParams): Array[Byte] = {
    val k = Array.fill[Byte](p.small)(Small) ++ Array.fill[Byte](p.tail)(TailKind) ++
      Array.fill[Byte](p.oversize)(Oversize)
    val r = rng(seed, -1)
    var i = k.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = k(i); k(i) = k(j); k(j) = t; i -= 1 }
    k
  }

  /** Tail record sizes by stream position (0 elsewhere): the `tail`
    * quantiles of log-uniform 1 KB..tailMaxBytes in seeded order, so
    * every seed carries the same payload volume.
    */
  def tailLens(seed: Long, p: StreamParams, kinds: Array[Byte]): Array[Int] = {
    val sizes = Array.tabulate(p.tail) { k =>
      val q = (k + 0.5) / p.tail
      math.exp(math.log(1024.0) + q * (math.log(p.tailMaxBytes.toDouble) - math.log(1024.0))).toInt
    }
    val r = rng(seed, -3)
    var k = sizes.length - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = sizes(k); sizes(k) = sizes(j); sizes(j) = t; k -= 1 }
    val lens = new Array[Int](kinds.length)
    var next = 0
    kinds.indices.foreach { i => if (kinds(i) == TailKind) { lens(i) = sizes(next); next += 1 } }
    lens
  }

  def streamTs(p: StreamParams, i: Int): Long =
    Epoch.toEpochDay * DayMicros + (p.days * DayMicros / p.total) * i

  def streamPayload(seed: Long, p: StreamParams, kind: Byte, tailLen: Int,
                    i: Int): Array[Byte] = {
    val r = rng(seed, i)
    kind match {
      case Small => jsonEvent(r, i, streamTs(p, i))
      case TailKind => randomBytes(r, tailLen)
      case _ => randomBytes(r, 1000001 + r.nextInt(500000))
    }
  }

  final case class StreamExpect(all: Tally, replayed: Tally, oversize: Int,
                                firstDay: LocalDate, lastDay: LocalDate)

  /** Writes the stream as parquet (`data, seq, ts`) and returns the
    * digests a correct record + replay must reproduce.
    */
  def writeStream(spark: SparkSession, seed: Long, p: StreamParams,
                  out: String): StreamExpect = {
    val slices = 8
    val per = (p.total + slices - 1) / slices
    val rows = spark.sparkContext.parallelize(0 until slices, slices).flatMap { s =>
      val kinds = streamKinds(seed, p)
      val lens = tailLens(seed, p, kinds)
      (s * per until math.min(p.total, (s + 1) * per)).iterator.map { i =>
        Row(streamPayload(seed, p, kinds(i), lens(i), i), 1000000L + i,
          new java.sql.Timestamp(streamTs(p, i) / 1000))
      }
    }
    spark.createDataFrame(rows, RecordSchema).write.parquet(out)
    val kinds = streamKinds(seed, p)
    val lens = tailLens(seed, p, kinds)
    val all = new Tally
    val replayed = new Tally
    var i = 0
    while (i < p.total) {
      val pl = streamPayload(seed, p, kinds(i), lens(i), i)
      all.add(pl)
      if (kinds(i) != Oversize) replayed.add(pl)
      i += 1
    }
    StreamExpect(all, replayed, p.oversize, Epoch,
      Epoch.plusDays(p.days - 1L))
  }

  // --------------------------------------------------------------- archive

  /** The long archive `tape_window` requests one-day windows from:
    * `perDay` JSON events per day over `days` days, recorded as about
    * `filesPerDay` tape files per day (a recorder flushing often).
    */
  final case class ArchiveParams(days: Int, perDay: Int, filesPerDay: Int)

  def archiveTs(p: ArchiveParams, i: Int): Long =
    Epoch.toEpochDay * DayMicros + (DayMicros / p.perDay) * (i % p.perDay) +
      (i / p.perDay) * DayMicros

  /** Writes the archive's input records as parquet and returns the
    * per-day digest of each day's payloads.
    */
  def writeArchiveInput(spark: SparkSession, seed: Long, p: ArchiveParams,
                        out: String): IndexedSeq[Tally] = {
    val slices = 8
    val total = p.days * p.perDay
    val per = (total + slices - 1) / slices
    val rows = spark.sparkContext.parallelize(0 until slices, slices).flatMap { s =>
      (s * per until math.min(total, (s + 1) * per)).iterator.map { i =>
        val ts = archiveTs(p, i)
        Row(jsonEvent(rng(seed, i), i, ts), 1000000L + i, new java.sql.Timestamp(ts / 1000))
      }
    }
    spark.createDataFrame(rows, RecordSchema).write.parquet(out)
    val days = IndexedSeq.fill(p.days)(new Tally)
    var i = 0
    while (i < total) {
      days(i / p.perDay).add(jsonEvent(rng(seed, i), i, archiveTs(p, i)))
      i += 1
    }
    days
  }

  // ---------------------------------------------------------------- corpus

  /** The curation corpus: `docs` documents of 60-140 words over a
    * `vocab`-word vocabulary; `clusters` planted near-duplicate clusters
    * of 2-4 documents each. Copies differ from their base only in the
    * last word, so every planted pair has 3-gram Jaccard ≥ 0.96.
    */
  final case class CorpusParams(docs: Int, clusters: Int, vocab: Int, sources: Int)

  /** `keepers` maps every planted member to its cluster's minimum id;
    * `textBytes` maps each doc_id to its text's UTF-8 length.
    */
  final case class CorpusExpect(keepers: Map[Long, Long], planted: Int,
                                textBytes: Map[Long, Long])

  def writeCorpus(spark: SparkSession, seed: Long, p: CorpusParams,
                  out: String): CorpusExpect = {
    val r = rng(seed, -2)
    val words = Array.tabulate(p.vocab) { _ =>
      val n = 3 + r.nextInt(7)
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.toString
    }
    def word(): String = words((p.vocab * math.pow(r.nextDouble(), 1.5)).toInt)
    // doc_ids: a seeded permutation, so cluster members are scattered
    val ids = Array.tabulate(p.docs)(i => 10L * i + 7)
    var i = ids.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val texts = new Array[String](p.docs)
    val keepers = scala.collection.mutable.Map[Long, Long]()
    var next = 0
    var planted = 0
    for (_ <- 0 until p.clusters) {
      val base = Array.fill(60 + r.nextInt(80))(word())
      val size = 2 + r.nextInt(3)
      val members = (0 until size).map { c =>
        val w = if (c == 0) base else base.updated(base.length - 1, s"${base.last}x$c")
        texts(next) = w.mkString(" ")
        next += 1
        ids(next - 1)
      }
      val keeper = members.min
      members.foreach(m => keepers(m) = keeper)
      planted += size - 1
    }
    while (next < p.docs) {
      texts(next) = Array.fill(60 + r.nextInt(80))(word()).mkString(" ")
      next += 1
    }
    val rows = (0 until p.docs).map(k => Row(ids(k), s"src${r.nextInt(p.sources)}", texts(k)))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(s"$out/documents.parquet")
    CorpusExpect(keepers.toMap, planted,
      (0 until p.docs).map(k => ids(k) -> texts(k).getBytes("UTF-8").length.toLong).toMap)
  }
}
