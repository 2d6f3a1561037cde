package graft.vcr

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The recorder's tape sink (reference: KinesisRecorder.java +
  * InjectableS3Emitter.java).
  *
  * The reference buffers records per KCL worker and flushes each buffer
  * to one S3 object named `{stream}/{yyyy-MM-dd}/{firstSeq}-{lastSeq}`.
  * Spark-first equivalent: `repartitionByRange(dt, seq)` gives each
  * task a seq-contiguous slice (the moral equivalent of a per-shard
  * buffer), then the tape DataSource V2 ingest path
  * ([[graft.sources.TapeWrite]]) streams each task's rows into one file
  * per day and names it `{firstSeq}-{lastSeq}.txt` from task-local
  * min/max at task commit — ONE pass over the data, no driver rename
  * loop, crash-safe dot-prefixed temps. (Round 1 computed a manifest
  * aggregate over a persisted copy and renamed on the driver; the DSv2
  * writer folds all of that into the write itself.)
  */
object TapeWriter {

  /** Write a record frame (`data BINARY, seq BIGINT, ts TIMESTAMP`) as a
    * tape under `root/stream/`. Returns the number of files written.
    *
    * The returned count costs one metadata listing of the WHOLE tape
    * ([[Tape.listFiles]]) — fine for a batch CLI verb, wrong per
    * streaming trigger (an O(archive) LIST on a hot path, the same
    * class as the unscoped V14 walk). Streams use [[ingest]], which
    * skips it.
    *
    * @param numFiles target parallelism (≅ number of flushed buffers);
    *                 pick so each file ≈ the reference's 100 MiB buffer.
    */
  def write(records: DataFrame, root: String, stream: String,
            numFiles: Int = 0,
            mode: SaveMode = SaveMode.Overwrite): Int = {
    val spark = records.sparkSession
    val dir = s"$root/$stream"
    val path = new Path(dir)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    if (!ingest(records, root, stream, numFiles, mode)) return 0
    // one metadata listing for the return value; the write itself is done
    Tape.listFiles(fs, path, _ => true).size
  }

  /** The write itself, no counting glob — the streaming sink's form.
    * Returns false only for a `SaveMode.Ignore` skip.
    */
  def ingest(records: DataFrame, root: String, stream: String,
             numFiles: Int = 0,
             mode: SaveMode = SaveMode.Overwrite): Boolean = {
    val spark = records.sparkSession
    val n = if (numFiles > 0) numFiles else spark.sparkContext.defaultParallelism
    val dir = s"$root/$stream"
    val path = new Path(dir)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    mode match {
      case SaveMode.Overwrite => fs.delete(path, true)
      case SaveMode.ErrorIfExists if fs.exists(path) =>
        throw new IllegalStateException(s"tape $dir already exists")
      case SaveMode.Ignore if fs.exists(path) => return false
      case _ => ()
    }
    records
      .select(col(Tape.DataCol), col(Tape.SeqCol), col(Tape.TsCol))
      .repartitionByRange(n, Tape.dtOf(col(Tape.TsCol)), col(Tape.SeqCol))
      .sortWithinPartitions(Tape.dtOf(col(Tape.TsCol)), col(Tape.SeqCol))
      .write.format("tape").option("ingest", "true").mode("append").save(dir)
    true
  }
}
