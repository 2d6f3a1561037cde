package graft.vcr

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One tape file as the lister sees it: its day, qualified path, size,
  * modification time (epoch ms) and the seq range its name declares
  * (`-1` when the name declares none).
  */
final case class TapeFileSlice(dt: String, file: String, size: Long,
                               mtime: Long, seqFirst: Long, seqLast: Long)

/** The tape format, re-expressed for Spark.
  *
  * The reference writes one S3 object per flushed buffer, named
  * `{stream}/{yyyy-MM-dd}/{firstSeq}-{lastSeq}`, containing one line of
  * standard Base64 per record payload (reference:
  * S3RecorderPipeline.java:45-58, InjectableS3Emitter.java:38-44).
  *
  * Here the same layout is Hive-partitioned by day:
  * `{root}/{stream}/dt={yyyy-MM-dd}/{firstSeq}-{lastSeq}.txt`, read
  * through the `tape` DataSource V2 ([[graft.sources.TapeDataSource]]),
  * which prunes day directories at planning time instead of running a
  * driver-side listing loop per request.
  *
  * Logical record schema on the way in: `data BINARY, seq BIGINT,
  * ts TIMESTAMP` (ts drives the dt partition; seq drives file naming
  * and replay order).
  */
object Tape {
  val DataCol = "data"
  val SeqCol = "seq"
  val TsCol = "ts"
  val DtCol = "dt"
  val SrcCol = "src"
  val PayloadCol = "payload"

  /** Base64 text line for a binary payload (reference
    * S3RecorderPipeline.java:53-57 — standard encoder, '\n' delimiter;
    * the delimiter is the text sink's line separator here).
    */
  def encodeLine(data: Column): Column = base64(data)

  /** Payload bytes from a tape line (reference KinesisPlayer.java:188). */
  def decodeLine(line: Column): Column = unbase64(line)

  /** UTC day partition value for a record timestamp (reference
    * InjectableS3Emitter.java:40-42 — Clock.systemUTC at emit time; we
    * use the record's own timestamp, which also gives replay a precise
    * in-day filter the reference approximates with object mtime).
    */
  def dtOf(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  private val DayPrefix = s"$DtCol="

  /** The seq range a tape file's name declares: `{first}-{last}[.txt]`. */
  val SeqRangeRe: scala.util.matching.Regex = "^(\\d+)-(\\d+)(?:\\.txt)?$".r

  /** Every tape file under the `dt=` directories of `dir` whose day
    * passes `keepDay`: one LIST of `dir`, one per kept day. This is the
    * one place that decides what a tape file is — a regular file whose
    * name starts with neither `.` (in-progress and compaction temps,
    * checksums) nor `_` (side files) — and what seq range its name
    * declares.
    */
  def listFiles(fs: FileSystem, dir: Path,
                keepDay: String => Boolean): Seq[TapeFileSlice] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(DayPrefix))
      .map(st => (st.getPath.getName.stripPrefix(DayPrefix), st.getPath))
      .filter { case (dt, _) => keepDay(dt) }
      .flatMap { case (dt, day) => listDay(fs, dt, day) }

  /** The tape files of the named days only, without listing `dir`
    * itself; a day with no directory contributes nothing.
    */
  def listDays(fs: FileSystem, dir: Path,
               days: Iterable[String]): Seq[TapeFileSlice] =
    days.toSeq.sorted.flatMap { dt =>
      val day = new Path(dir, s"$DayPrefix$dt")
      if (fs.exists(day)) listDay(fs, dt, day) else Nil
    }

  private def listDay(fs: FileSystem, dt: String,
                      day: Path): Seq[TapeFileSlice] =
    fs.listStatus(day).toSeq.filter(isTapeFile).map { st =>
      val (first, last) = st.getPath.getName match {
        case SeqRangeRe(a, b) => (a.toLong, b.toLong)
        case _ => (-1L, -1L)
      }
      TapeFileSlice(dt, st.getPath.toString, st.getLen,
        st.getModificationTime, first, last)
    }

  private def isTapeFile(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    st.isFile && !name.startsWith(".") && !name.startsWith("_")
  }

  /** Raw tape lines, undecoded — `value, file (name), dt` — for the
    * tools that must see lines replay would reject (fsck, the digest
    * diff, the manifest build). Replay reads through `format("tape")`.
    * Partition inference types `dt=` as DATE; it is pinned back to the
    * directory's string.
    */
  def rawLines(spark: SparkSession, dir: String,
               paths: Seq[String]): DataFrame =
    spark.read.option("basePath", dir).text(paths: _*)
      .select(col("value"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
        col(DtCol).cast("string").as(DtCol))
}
