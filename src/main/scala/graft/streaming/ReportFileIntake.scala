package graft.streaming

import graft.sources.{AggregateRecordRow, AggregateReport, AggregateXmlParser,
  DmarcReader, ForensicReport, TlsReport}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous intake of raw DMARC report FILES from a drop directory —
  * the Spark twin of the reference's IMAP poll loop
  * (internal/imap/client.go:409: poll mailbox → fetch attachments →
  * parse → store, forever). Here the mail fetcher (an un-Spark-able
  * network client) is replaced by any agent dropping files into a
  * directory (or object-store prefix); Structured Streaming's file
  * source provides the poll loop, checkpointed exactly-once processing
  * of each file, and `maxFilesPerTrigger` backpressure. The parse is
  * the SAME executor-side parser as the batch path, so batch and
  * continuous ingestion can never drift.
  */
object ReportFileIntake {

  /** Newly arrived report files, deduplicated by path.
    *
    * The watermarked path dedup guards a real hazard of mail-derived
    * filenames (the reference saves reports under their email subject —
    * spaces, brackets, parens): the file source's seen-files map can
    * miss relisted paths containing glob metacharacters and deliver the
    * same file in two consecutive micro-batches. Dedup state is evicted
    * once the watermark passes a file's modification time + 1h, so it
    * stays bounded by recent-arrival count, not all-time file count.
    */
  private def newFiles(spark: SparkSession, dropDir: String, glob: String): DataFrame =
    DmarcReader.fileStream(spark, dropDir, glob)
      .withWatermark("modificationTime", "1 hour")
      .dropDuplicatesWithinWatermark("path")

  /** Flattened record rows (the `dmarc_aggregate_records` shape) as a
    * stream — ready to append to the same table the batch path fills.
    * Unparseable files are skipped (the reference logs and continues —
    * parser.go:116-193).
    */
  def aggregateRecordStream(spark: SparkSession, dropDir: String,
                            glob: String = "*"): Dataset[AggregateRecordRow] =
    DmarcReader.parseRecords(newFiles(spark, dropDir, glob))

  /** Aggregate reports with mailbox-redelivery dedup: an IMAP mailbox
    * can deliver the same report repeatedly (cc'd copies, re-polls,
    * multiple recipient folders) — the reference marks processed
    * messages seen; here duplicate REPORT IDs arriving within the
    * watermark horizon collapse to the first copy even when the files
    * differ. State holds one id per recently arrived report and evicts
    * an hour of arrival time behind the newest file.
    */
  def dedupedAggregateReports(spark: SparkSession, dropDir: String,
                              glob: String = "*"): Dataset[AggregateReport] = {
    import spark.implicits._
    // built on the RAW load (not the path-deduped stream): report-id
    // dedup subsumes path dedup here — a double-listed path parses to
    // the same report id — and Spark allows only one watermark
    // definition per stateful chain
    DmarcReader.parse(DmarcReader.fileStream(spark, dropDir, glob)) { f =>
        AggregateXmlParser.parseAny(f.content).toOption.map(r => (f.modificationTime, r))
      }
      .toDF("_arrival", "report")
      .withWatermark("_arrival", "1 hour")
      .withColumn("_rid", col("report.reportId"))
      .dropDuplicatesWithinWatermark("_rid")
      .select("report.*").as[AggregateReport]
  }

  /** Forensic (ARF email) twin of `aggregateRecordStream` — the IMAP
    * poll also delivers forensic reports; same drop-directory source,
    * same executor-side parser as the batch path.
    */
  def forensicReportStream(spark: SparkSession, dropDir: String,
                           glob: String = "*"): Dataset[ForensicReport] =
    DmarcReader.parseForensic(newFiles(spark, dropDir, glob))

  /** SMTP TLS (RFC 8460 JSON) twin. */
  def tlsReportStream(spark: SparkSession, dropDir: String,
                      glob: String = "*"): Dataset[TlsReport] =
    DmarcReader.parseTls(newFiles(spark, dropDir, glob))

  /** The full ingest loop: drop directory → parse → append-mode parquet
    * records table. Each file is processed exactly once across restarts
    * (file-source checkpoint); on a cluster outPath is object storage
    * partitioned by month(begin_date) like the batch table.
    */
  def appendRecords(spark: SparkSession, dropDir: String, outPath: String,
                    checkpoint: String, glob: String = "*",
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    aggregateRecordStream(spark, dropDir, glob)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()
}
