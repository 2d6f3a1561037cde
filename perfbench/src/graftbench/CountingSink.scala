package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

import graft.vcr.{ReplayRecord, ReplaySink, ReplaySinkFactory}

/** Replay target that keeps nothing: it counts, digests and times each
  * `putBatch` into named accumulators and accepts every record. A real
  * stream would add its own cost; this sink stays near zero so replay
  * time is the player's.
  */
final case class CountingSinkFactory(records: LongAccumulator, bytes: LongAccumulator,
                                     hash: LongAccumulator, batches: LongAccumulator,
                                     putNanos: LongAccumulator) extends ReplaySinkFactory {
  override def open(): ReplaySink = new ReplaySink {
    override def putBatch(rs: Array[ReplayRecord]): Array[Int] = {
      val t0 = System.nanoTime()
      var b = 0L
      var h = 0L
      var i = 0
      while (i < rs.length) {
        val p = rs(i).payload
        b += p.length
        h += Tally.fnv(p)
        i += 1
      }
      records.add(rs.length.toLong)
      bytes.add(b)
      hash.add(h)
      batches.add(1L)
      putNanos.add(System.nanoTime() - t0)
      Array.emptyIntArray
    }
  }

  def reset(): Unit = Seq(records, bytes, hash, batches, putNanos).foreach(_.reset())
}

object CountingSinkFactory {
  def apply(sc: SparkContext): CountingSinkFactory = CountingSinkFactory(
    sc.longAccumulator("bench.sink.records"), sc.longAccumulator("bench.sink.bytes"),
    sc.longAccumulator("bench.sink.hash"), sc.longAccumulator("vcr.sink_put.batches"),
    sc.longAccumulator("vcr.sink_put.nanos"))
}
