package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.vcr._

/** One measured operation: its wall time, the payload bytes and records
  * it carried, the problems its output checks found, and named phase
  * times (seconds) for the workload's own figures.
  */
final case class Op(ms: Double, payloadBytes: Long, records: Long,
                    problems: Seq[String], parts: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val seed: Long, val work: String,
                        val tr: Tracer) {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** Operations run before measuring, to load classes and fill the JIT. */
  def warmups: Int
  /** The loop runs at least this many operations, however long they take. */
  def minOps: Int
  /** Generates this workload's inputs under `dir` and prepares them. */
  def setup(dir: String): Unit
  /** Checks on what set-up and the warm-up operations left on disk;
    * each string is a failure.
    */
  def setupProblems(): Seq[String] = Nil
  /** One measured operation, the i-th of the run. */
  def request(i: Int): Op
  /** Layer jobs timed in isolation, run after each traced request. */
  def traceExtras(): Unit = ()
  /** Bytes on disk ÷ payload bytes of what the workload stored. */
  def spaceAmp: Double
  /** The workload's own figures, from the untraced operations. */
  def ownMetrics(ops: Seq[Op]): Seq[(String, Double)]

  protected def conf = spark.sparkContext.hadoopConfiguration

  protected def dirBytes(dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(conf).getContentSummary(p).getLength
  }

  /** TapePlayer.read inside the `vcr.read` span, counting the files the
    * read's file index listed (Spark's own discovery counter).
    */
  protected def tracedRead(root: String, stream: String, start: java.time.LocalDateTime,
                           end: Option[java.time.LocalDateTime], inWindow: Long): DataFrame =
    tr.span("vcr.read") {
      val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val df = TapePlayer.read(spark, root, stream, start, end)
      val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
      tr.count("vcr.read.files_listed", listed.toDouble)
      if (listed > 0) tr.count("vcr.read.list_yield", inWindow.toDouble / listed)
      df
    }

  protected def total(ops: Seq[Op], part: String): Double = ops.map(_.parts.getOrElse(part, 0.0)).sum
}

object Workload {
  val Stream = "events"
  val Shards = 2

  def apply(name: String, spark: SparkSession, seed: Long, work: String,
            tr: Tracer): Workload = name match {
    case "tape_replay" => new TapeReplay(spark, seed, work, tr)
    case "tape_window" => new TapeWindow(spark, seed, work, tr)
    case "curate_dedup" => new CurateDedup(spark, seed, work, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(problems: ArrayBuffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) problems += what

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Accumulators for the replay layers timed in isolation. */
final case class LayerAccs(pkNanos: LongAccumulator, asmNanos: LongAccumulator,
                           asmIn: LongAccumulator, asmOut: LongAccumulator,
                           asmBatches: LongAccumulator, sinkHole: LongAccumulator) {
  def reset(): Unit = Seq(pkNanos, asmNanos, asmIn, asmOut, asmBatches, sinkHole).foreach(_.reset())
}

object LayerAccs {
  def apply(spark: SparkSession): LayerAccs = {
    val sc = spark.sparkContext
    LayerAccs(sc.longAccumulator("vcr.partition_key.nanos"),
      sc.longAccumulator("vcr.assemble.nanos"), sc.longAccumulator("vcr.assemble.in"),
      sc.longAccumulator("vcr.assemble.out"), sc.longAccumulator("vcr.assemble.batches"),
      sc.longAccumulator("vcr.partition_key.hole"))
  }

  /** Per task: assemble the partition's payloads into PutRecords batches,
    * then derive every payload's partition key, each timed alone. The
    * batcher's drop counter is private to its iterator, so drops are
    * inferred as records in minus records batched.
    */
  def isolate(tape: DataFrame, a: LayerAccs): Unit =
    tape.select(Tape.PayloadCol).foreachPartition { (rows: Iterator[Row]) =>
      val ps = rows.map(_.getAs[Array[Byte]](0)).toArray
      var t0 = System.nanoTime()
      val it = KinesisBatcher.assemble(ps.iterator)
      var batches = 0L
      var out = 0L
      while (it.hasNext) { batches += 1; out += it.next().count }
      a.asmNanos.add(System.nanoTime() - t0)
      a.asmIn.add(ps.length.toLong)
      a.asmOut.add(out)
      a.asmBatches.add(batches)
      t0 = System.nanoTime()
      var h = 0L
      var i = 0
      while (i < ps.length) { h += PartitionKeys.forPayload(ps(i)).hashCode; i += 1 }
      a.pkNanos.add(System.nanoTime() - t0)
      a.sinkHole.add(h)
    }
}

/** Record a whole multi-day stream, estimate it with both models, and
  * play it into the counting sink — the `VcrCli record`, `estimate`,
  * `play` sequence, closed loop, one client.
  */
final class TapeReplay(spark: SparkSession, seed: Long, work: String, tr: Tracer)
  extends Workload(spark, seed, work, tr) {
  import Workload._

  val params = Gen.StreamParams(small = 300000, tail = 200, tailMaxBytes = 900 * 1024,
    oversize = 3, days = 7)
  val setupReps = 3
  val warmups = 1
  val minOps = 3
  private var input: String = _
  private var root: String = _
  private var expect: Gen.StreamExpect = _
  private var lastTapeBytes = 0L
  private val sink = CountingSinkFactory(spark.sparkContext)
  private val accs = LayerAccs(spark)

  private def start = expect.firstDay.atStartOfDay
  private def end = Some(expect.lastDay.atTime(23, 59, 59))

  def setup(dir: String): Unit = {
    input = s"$dir/stream.parquet"
    root = s"$dir/tape"
    expect = tr.span("gen.stream")(Gen.writeStream(spark, seed, params, input))
  }

  override def setupProblems(): Seq[String] = {
    // the tape the warm-up operation recorded
    val bad = TapeFsck.fsck(spark, root, Stream).filter(col("status") =!= "ok").count()
    if (bad == 0) Nil else Seq(s"fsck: $bad tape files not ok after record")
  }

  def request(i: Int): Op = {
    val problems = ArrayBuffer[String]()
    val t0 = System.nanoTime()
    val files = tr.span("vcr.record")(
      TapeWriter.write(spark.read.parquet(input), root, Stream))
    val t1 = System.nanoTime()
    val est = tr.span("vcr.estimate")(
      Estimator.estimate(conf, root, Stream, start, end, Shards))
    val dec = tr.span("vcr.estimate_decoded")(
      Estimator.estimateDecoded(spark, root, Stream, start, end, Shards))
    val t2 = System.nanoTime()
    sink.reset()
    val tape = tracedRead(root, Stream, start, end, est.files)
    val sent = tr.span("vcr.play")(TapePlayer.play(tape, sink))
    val t3 = System.nanoTime()
    lastTapeBytes = est.bytes
    tr.count("vcr.record.files", files.toDouble)
    tr.count("vcr.record.bytes_written", est.bytes.toDouble)
    tr.count("vcr.sink_put.busy_s", sink.putNanos.value / 1e9)
    tr.count("vcr.sink_put.batches", sink.batches.value.toDouble)
    val e = expect
    check(problems, est.files == files, s"estimate saw ${est.files} files, record wrote $files")
    check(problems, dec.files == files, s"decoded estimate saw ${dec.files} files, record wrote $files")
    check(problems, dec.bytes == e.all.bytes, s"decoded estimate ${dec.bytes} B != ${e.all.bytes} B")
    check(problems, sent == e.replayed.n, s"play sent $sent, expected ${e.replayed.n}")
    check(problems, e.replayed.same(sink.records.value, sink.bytes.value, sink.hash.value),
      s"replayed (${sink.records.value}, ${sink.bytes.value}, ${sink.hash.value}) != ${e.replayed}")
    val dropped = e.all.n - sink.records.value
    check(problems, dropped == e.oversize, s"dropped $dropped records, planted ${e.oversize}")
    Op((t3 - t0) / 1e6, e.all.bytes, e.all.n, problems.toSeq,
      Map("record_s" -> (t1 - t0) / 1e9, "replay_s" -> (t3 - t2) / 1e9,
        "replayed_bytes" -> e.replayed.bytes.toDouble))
  }

  override def traceExtras(): Unit = {
    val r = tr.span("vcr.read_scan")(
      TapePlayer.read(spark, root, Stream, start, end)
        .agg(count(lit(1)), coalesce(sum(octet_length(col(Tape.PayloadCol))), lit(0L))).head())
    if (r.getLong(0) != expect.all.n || r.getLong(1) != expect.all.bytes)
      throw new IllegalStateException(s"read scan saw (${r.getLong(0)}, ${r.getLong(1)})")
    accs.reset()
    tr.span("vcr.layers_isolated")(
      LayerAccs.isolate(TapePlayer.read(spark, root, Stream, start, end), accs))
    tr.count("vcr.partition_key.busy_s", accs.pkNanos.value / 1e9)
    tr.count("vcr.assemble.busy_s", accs.asmNanos.value / 1e9)
    tr.count("vcr.assemble.batches", accs.asmBatches.value.toDouble)
    tr.count("vcr.assemble.dropped", (accs.asmIn.value - accs.asmOut.value).toDouble)
  }

  def spaceAmp: Double = lastTapeBytes.toDouble / expect.all.bytes

  def ownMetrics(ops: Seq[Op]): Seq[(String, Double)] = Seq(
    "record_mb_s" -> ops.map(_.payloadBytes).sum / 1e6 / total(ops, "record_s"),
    "replay_mb_s" -> total(ops, "replayed_bytes") / 1e6 / total(ops, "replay_s"),
    "tape_space_amp" -> spaceAmp)
}

/** Many small requests against a long, fragmented archive: each picks a
  * seeded day and runs `estimate` (both models) then `play` for it.
  */
final class TapeWindow(spark: SparkSession, seed: Long, work: String, tr: Tracer)
  extends Workload(spark, seed, work, tr) {
  import Workload._

  val params = Gen.ArchiveParams(days = 36, perDay = 2500, filesPerDay = 6)
  val setupReps = 3
  val warmups = 8
  val minOps = 16
  private var root: String = _
  private var perDay: IndexedSeq[Tally] = _
  /** (files, bytes) of each day's directory, listed after recording. */
  private var dayFiles: IndexedSeq[(Long, Long)] = _
  private val recordS = ArrayBuffer[Double]()
  private val sink = CountingSinkFactory(spark.sparkContext)

  def setup(dir: String): Unit = {
    val input = s"$dir/archive.parquet"
    root = s"$dir/tape"
    perDay = tr.span("gen.archive")(Gen.writeArchiveInput(spark, seed, params, input))
    val t0 = System.nanoTime()
    val files = tr.span("vcr.record")(TapeWriter.write(spark.read.parquet(input), root,
      Stream, numFiles = params.days * params.filesPerDay))
    recordS += (System.nanoTime() - t0) / 1e9
    val fs = new Path(root).getFileSystem(conf)
    dayFiles = (0 until params.days).map { d =>
      val day = new Path(s"$root/$Stream/${Tape.DtCol}=${Gen.Epoch.plusDays(d.toLong)}")
      val st = if (fs.exists(day)) fs.listStatus(day).filter(_.isFile).toSeq else Nil
      (st.size.toLong, st.map(_.getLen).sum)
    }
    tr.count("vcr.record.files", files.toDouble)
    tr.count("vcr.record.bytes_written", dayFiles.map(_._2).sum.toDouble)
  }

  override def setupProblems(): Seq[String] = {
    val bad = TapeFsck.fsck(spark, root, Stream).filter(col("status") =!= "ok").count()
    (if (bad == 0) Nil else Seq(s"fsck: $bad tape files not ok after record")) ++
      dayFiles.zipWithIndex.collect { case ((0L, _), d) => s"day $d has no tape files" }
  }

  private def dayOf(i: Int): Int = Gen.rng(seed, 1000000L + i).nextInt(params.days)

  def request(i: Int): Op = {
    val problems = ArrayBuffer[String]()
    val d = dayOf(i)
    val day = Gen.Epoch.plusDays(d.toLong).atStartOfDay
    val t0 = System.nanoTime()
    val est = tr.span("vcr.estimate")(Estimator.estimate(conf, root, Stream, day, None, Shards))
    val dec = tr.span("vcr.estimate_decoded")(
      Estimator.estimateDecoded(spark, root, Stream, day, None, Shards))
    sink.reset()
    val tape = tracedRead(root, Stream, day, None, est.files)
    val sent = tr.span("vcr.play")(TapePlayer.play(tape, sink))
    val t1 = System.nanoTime()
    tr.count("vcr.sink_put.busy_s", sink.putNanos.value / 1e9)
    tr.count("vcr.sink_put.batches", sink.batches.value.toDouble)
    val (files, bytes) = dayFiles(d)
    val e = perDay(d)
    check(problems, est.files == files && est.bytes == bytes,
      s"day $d: estimate (${est.files} files, ${est.bytes} B) != listed ($files, $bytes)")
    check(problems, dec.files == files, s"day $d: decoded estimate saw ${dec.files} files")
    check(problems, dec.bytes == e.bytes, s"day $d: decoded estimate ${dec.bytes} B != ${e.bytes} B")
    check(problems, sent == e.n, s"day $d: play sent $sent, expected ${e.n}")
    check(problems, e.same(sink.records.value, sink.bytes.value, sink.hash.value),
      s"day $d: replayed (${sink.records.value}, ${sink.bytes.value}, ${sink.hash.value}) != $e")
    Op((t1 - t0) / 1e6, e.bytes, e.n, problems.toSeq)
  }

  def spaceAmp: Double = dayFiles.map(_._2).sum.toDouble / perDay.map(_.bytes).sum

  def ownMetrics(ops: Seq[Op]): Seq[(String, Double)] = Seq(
    "record_mb_s" -> perDay.map(_.bytes).sum / 1e6 / percentile(recordS.toSeq, 0.5),
    "replay_mb_s" -> ops.map(_.payloadBytes).sum / 1e6 / (ops.map(_.ms).sum / 1e3),
    "window_p50_ms" -> percentile(ops.map(_.ms), 0.5),
    "window_p90_ms" -> percentile(ops.map(_.ms), 0.9),
    "tape_space_amp" -> spaceAmp)
}

/** Capped-LSH near-duplicate curation of a corpus with planted clusters:
  * the capped purge plan, the anti-join keep set, and the
  * source-partitioned, doc_id-sorted parquet layout of CurationWriter.
  */
final class CurateDedup(spark: SparkSession, seed: Long, work: String, tr: Tracer)
  extends Workload(spark, seed, work, tr) {
  import Workload._

  val params = Gen.CorpusParams(docs = 3000, clusters = 150, vocab = 4000, sources = 20)
  val setupReps = 3
  val warmups = 1
  val minOps = 2
  private var corpus: String = _
  private var expect: Gen.CorpusExpect = _
  private var outBytes = 0L
  private var keptTextBytes = 0L

  def setup(dir: String): Unit = {
    corpus = s"$dir/corpus"
    expect = tr.span("gen.corpus")(Gen.writeCorpus(spark, seed, params, corpus))
  }

  def request(i: Int): Op = {
    val problems = ArrayBuffer[String]()
    val out = s"$work/curated"
    val t0 = System.nanoTime()
    val plan = tr.span("dedup.purge_plan_capped") {
      val p = graft.CachedFrames.persist(
        graft.dedup.DedupQueries.dedupPurgePlanCapped(spark, corpus))
      p.count()
      p
    }
    val written = tr.span("pipeline.curated_write") {
      graft.pipeline.CurationWriter.curated(graft.Tables.documents(spark, corpus), plan)
        .repartition(1, col("source"))
        .sortWithinPartitions(col("source"), col("doc_id"))
        .write.mode("overwrite").partitionBy("source").parquet(out)
      spark.read.parquet(out).count()
    }
    val t1 = System.nanoTime()
    tr.span("check")(checkCurated(plan, written, out, problems))
    Op((t1 - t0) / 1e6, expect.textBytes.values.sum, params.docs.toLong, problems.toSeq)
  }

  private def checkCurated(plan: DataFrame, written: Long, out: String,
                           problems: ArrayBuffer[String]): Unit = {
    val rows = plan.select("doc_id", "keeper_id", "verdict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val e = expect
    val plantedDrops = e.keepers.collect { case (m, k) if m != k => m }.toSet
    val drops = rows.collect { case (id, _, "drop_neardup") => id }.toSet
    val clustered = rows.count(_._3 != "unique")
    tr.count("dedup.clustered_docs", clustered.toDouble)
    tr.count("dedup.recall", (drops intersect plantedDrops).size.toDouble / plantedDrops.size)
    check(problems, rows.length == params.docs, s"plan has ${rows.length} rows, corpus ${params.docs}")
    // LSH finds a planted pair only with high probability, so a miss is
    // recall (dedup.recall), not a failure; a drop that is not a planted
    // duplicate, or a cluster minimum that is not kept, is a failure.
    check(problems, drops.subsetOf(plantedDrops),
      s"plan drops ${(drops -- plantedDrops).size} docs that are not planted duplicates")
    val found = rows.filter(_._3 != "unique").groupBy(_._2)
    val badClusters = found.count { case (k, ms) =>
      ms.map(_._1).min != k || ms.exists(m => e.keepers.get(m._1) != e.keepers.get(k)) }
    check(problems, badClusters == 0,
      s"$badClusters found clusters are not keyed by their minimum doc_id within one planted cluster")
    check(problems, written == params.docs - drops.size,
      s"wrote $written rows, expected ${params.docs - drops.size}")
    val ids = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    check(problems, ids == rows.map(_._1).toSet -- drops,
      "written doc_id set is not the corpus minus the plan's drops")
    check(problems, e.keepers.values.forall(ids), "a planted cluster's minimum doc_id was not written")
    outBytes = dirBytes(out)
    keptTextBytes = ids.toSeq.map(e.textBytes).sum
  }

  override def traceExtras(): Unit =
    tr.span("dedup.clusters_capped")(
      graft.dedup.DedupQueries.dedupClustersCapped(spark, corpus).count())

  def spaceAmp: Double = outBytes.toDouble / keptTextBytes

  def ownMetrics(ops: Seq[Op]): Seq[(String, Double)] = Seq(
    "curate_docs_s" -> ops.map(_.records).sum / (ops.map(_.ms).sum / 1e3))
}
