package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line.
  *
  * {{{
  * Main --workload tape_replay --seed 1 --seconds 15 --trace 0 \
  *      --work <empty dir> --cores 4
  * }}}
  *
  * Set-up runs the workload's `setupReps` times into fresh directories
  * and reports the median. The measured loop is closed with one client: each operation
  * starts when the previous one returns, until `--seconds` have passed
  * and at least the workload's minimum count has run. With `--trace 1`
  * the same untraced loop runs first (its figures give the tracing
  * overhead and the workload's own figures), then a traced loop of the
  * same length gives the per-layer metrics.
  */
object Main {
  /** Layer spans reported per workload; one that does not occur reads 0. */
  val Spans = Seq("setup", "request", "vcr.record", "vcr.estimate", "vcr.estimate_decoded",
    "vcr.read", "vcr.read_scan", "vcr.play", "dedup.clusters_capped",
    "dedup.purge_plan_capped", "pipeline.curated_write", "check")

  val Counters = Seq("vcr.partition_key.busy_s", "vcr.sink_put.busy_s", "vcr.sink_put.batches",
    "vcr.assemble.busy_s", "vcr.assemble.batches", "vcr.assemble.dropped",
    "vcr.read.files_listed", "vcr.read.list_yield", "vcr.record.files",
    "vcr.record.bytes_written", "dedup.clustered_docs", "dedup.recall")

  val Own = Seq("record_mb_s", "replay_mb_s", "window_p50_ms", "window_p90_ms",
    "curate_docs_s", "tape_space_amp")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line = try run(spark, workload, seed, seconds, traced, work, cores, opt.get("spans"))
    finally spark.stop()
    println(line)
  }

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
          work: String, cores: Int, spanFile: Option[String]): String = {
    val tr = new Tracer(spark.sparkContext, cores)
    val w = Workload(name, spark, seed, work, tr)
    val problems = ArrayBuffer[String]()

    tr.enabled = traced
    val setupS = (0 until w.setupReps).map { k =>
      val dir = s"$work/setup-$k"
      if (k > 0) deleteTree(s"$work/setup-${k - 1}")
      val t0 = System.nanoTime()
      tr.span("setup")(w.setup(dir))
      graft.CachedFrames.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }
    log(f"setup ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    tr.enabled = false
    (1 to w.warmups).foreach { i =>
      problems ++= w.request(-i).problems
      graft.CachedFrames.releaseAll()
    }
    problems ++= w.setupProblems()

    def loop(on: Boolean, first: Int): Seq[Op] = {
      tr.enabled = on
      val ops = ArrayBuffer[Op]()
      val t0 = System.nanoTime()
      while (ops.size < w.minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
        val i = first + ops.size
        tr.request = i
        val op = try tr.span("request")(w.request(i)) catch {
          case e: Exception => Op(0.0, 0L, 0L, Seq(s"request $i threw $e"))
        } finally graft.CachedFrames.releaseAll()
        val extra = if (!on) Nil else try { w.traceExtras(); Nil } catch {
          case e: Exception => Seq(s"layers in isolation after request $i threw $e")
        } finally graft.CachedFrames.releaseAll()
        ops += op.copy(problems = op.problems ++ extra)
      }
      tr.enabled = false
      ops.toSeq
    }

    val plain = loop(on = false, first = 0)
    val tracedOps = if (traced) loop(on = true, first = 100000) else Nil
    val all = plain ++ tracedOps
    all.flatMap(_.problems).foreach(p => log(s"FAILED: $p"))
    problems.foreach(p => log(s"FAILED: $p"))
    val failed = all.count(_.problems.nonEmpty)
    val ok = plain.filter(_.problems.isEmpty)
    log(s"op ms: ${all.map(o => f"${o.ms}%.0f").mkString(" ")}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(
          ("setup_s", Workload.percentile(setupS, 0.5), "s"),
          ("op_p50_ms", Workload.percentile(ok.map(_.ms), 0.5), "ms"),
          ("payload_mb_s", Workload.percentile(ok.map(o => o.payloadBytes / 1e3 / o.ms), 0.5), "MB/s"),
          ("space_amp", w.spaceAmp, "ratio"))
      } else {
        spanFile.foreach(tr.dump)
        val own = w.ownMetrics(ok).toMap
        val overhead = Workload.percentile(tracedOps.filter(_.problems.isEmpty).map(_.ms), 0.5) -
          Workload.percentile(ok.map(_.ms), 0.5)
        tr.spanMetrics(Spans).map { case (k, v) => (k, v, unitOf(k)) } ++
          Counters.map(k => (k, tr.counter(k), unitOf(k))) ++
          Own.map(k => (k, own.getOrElse(k, 0.0), unitOf(k))) ++
          Seq(("trace.overhead_ms", overhead, "ms"), ("peak_rss_mb", peakRssMb(), "MB"))
      }
    Json.obj(Seq(
      "correct" -> (failed == 0 && problems.isEmpty),
      "attempted" -> all.size,
      "failed" -> (failed + (if (problems.nonEmpty) 1 else 0)),
      "metrics" -> metrics.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) }))
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "s" | "self_s" | "gc_s" | "busy_s" => "s"
    case "shuffle_bytes" | "spill_bytes" | "bytes_written" => "B"
    case "core_util" | "list_yield" | "recall" | "tape_space_amp" => "ratio"
    case m if m.endsWith("_mb_s") => "MB/s"
    case m if m.endsWith("_ms") => "ms"
    case "curate_docs_s" => "1/s"
    case _ => "count"
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = new java.io.File(dir)
    if (p.isDirectory) p.listFiles().foreach(f => deleteTree(f.getPath))
    p.delete()
  }
}
