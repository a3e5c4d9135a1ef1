package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.CardinalityStream

/** Batch + streaming readers for the reference's JSONL wire format — the
  * documented ingestion path is `stream.jsonl` replayed through a console
  * producer (`/root/reference/README.md:27,36`); these read the same lines
  * directly.
  *
  * Malformed lines are dropped (log-and-skip parity, `kafkaio.go:78-81`):
  * the text is read as raw lines and pushed through the same
  * `CardinalityStream.parse` used by the Kafka path, so batch, file-stream
  * and Kafka ingestion share one parser.
  */
object JsonlSource {

  /** Batch read: one `(uid, event_time)` row per valid line.
    *
    * The lines come from `SparkContext.textFile` with `defaultParallelism`
    * as the minimum split count, not from `spark.read.text`: the SQL file
    * scan never splits below `spark.sql.files.openCostInBytes` (4 MiB), so
    * a backlog of a few MiB was scanned, parsed and partially aggregated
    * in ONE task while every other core idled. Hadoop's splitter cuts a
    * small file into one split per core; large inputs still split at the
    * block size. Line ends (`\n`, `\r\n`, `\r`) and the skipping of hidden
    * files (`_SUCCESS`, `.*.crc`) are the same as `spark.read.text`'s.
    * What differs:
    *  - a directory's subdirectories are not read recursively: a directory
    *    holding one fails the read (Hadoop's record reader refuses it),
    *    where `spark.read.text` skips one not named as a `key=value`
    *    partition;
    *  - many small files give at least one task per file, where the SQL
    *    scan packs them into `maxPartitionBytes`-sized tasks;
    *  - a missing path fails at the first action, not at this call. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val lines = spark.createDataset(sc.textFile(path, sc.defaultParallelism))(Encoders.STRING)
    CardinalityStream.parse(lines.toDF("value"))
  }

  /** Streaming read of a directory of JSONL files — the no-broker replay
    * path (new files are picked up per micro-batch). */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    CardinalityStream.parse(
      spark.readStream
        .schema("value STRING")
        .text(dir)
        .select(col("value")))

  /** Write a stats DataFrame (`Type`,`Timestamp`,`Value`) as JSONL with the
    * reference's capitalized keys — the file twin of the Kafka sink. */
  def writeStats(stats: DataFrame, path: String): Unit =
    CardinalityStream.toSinkFormat(stats)
      .write.mode("overwrite").text(path)
}
