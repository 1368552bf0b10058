package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.types._

/** One report payload as Spark's `binaryFile` source delivers it: where
  * it came from, when it arrived, its bytes.
  */
final case class ReportFile(path: String, modificationTime: Timestamp, content: Array[Byte])

/** Distributed DMARC report ingestion: `binaryFile` scan → executor-side
  * parse → typed Dataset. This is the reference's single-threaded
  * file/IMAP/HTTP intake re-expressed as embarrassingly-parallel Spark
  * ETL: each file parses independently on executors, so 100 TB of report
  * archives ingest at cluster width. Failed files surface in a parallel
  * errors Dataset instead of aborting the job (the reference logs and
  * skips — parser.go:116-193).
  *
  * Every intake loads and parses through the functions below: [[files]]
  * (batch) and [[fileStream]] (streaming) are the only `binaryFile`
  * loaders, and [[parse]] turns either kind of frame — or a frame of
  * fetched mail — into a typed Dataset. Batch and streaming
  * Datasets share one API, so the batch reader, the drop-directory
  * stream, the IMAP intake, the archive audit and the ingest metrics
  * all run the same parse.
  */
object DmarcReader {

  /** The report files under `path` (recursive), as a batch frame. */
  def files(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)

  /** binaryFile's fixed schema (streaming sources require it up front). */
  private val binarySchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Report files as they arrive in `dir`, as a streaming frame of at
    * most 64 files per micro-batch (backpressure for a burst of drops).
    */
  def fileStream(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", "64")
      .load(dir)

  /** A (path, modificationTime, content) frame, batch or streaming,
    * through `f` on the executors: each file yields zero or more rows.
    */
  def parse[T: Encoder](files: DataFrame)(f: ReportFile => IterableOnce[T]): Dataset[T] =
    files.as[ReportFile](Encoders.product[ReportFile]).flatMap(f)

  /** The files that parse as aggregate reports; the rest are skipped. */
  def parseAggregates(files: DataFrame): Dataset[AggregateReport] =
    parse(files)(f => AggregateXmlParser.parseAny(f.content).toOption)(Encoders.product)

  /** The files that parse as forensic (ARF) reports. */
  def parseForensic(files: DataFrame): Dataset[ForensicReport] =
    parse(files)(f => ForensicParser.parse(f.content).toOption)(Encoders.product)

  /** The files that parse as SMTP TLS reports. */
  def parseTls(files: DataFrame): Dataset[TlsReport] =
    parse(files)(f => TlsReportParser.parseAny(f.content).toOption)(Encoders.product)

  /** Flattened record rows of the files that parse as aggregate reports. */
  def parseRecords(files: DataFrame): Dataset[AggregateRecordRow] =
    parseAggregates(files).flatMap(recordRows)(Encoders.product)

  def aggregateReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[AggregateReport] =
    parseAggregates(files(spark, path, glob))

  /** Flattened `dmarc_aggregate_records` rows — the table every overview
    * dashboard panel aggregates (clickhouse.go:107-138). The stored
    * layout (month partitions, files sorted on (org_name, report_id,
    * source_ip_address, begin_date)) is `OutputWriters.writeRecordsTable`.
    */
  def aggregateRecords(spark: SparkSession, path: String, glob: String = "*"): Dataset[AggregateRecordRow] =
    parseRecords(files(spark, path, glob))

  /** Report → flattened per-record rows (the flatten of [[parseRecords]]). */
  def recordRows(rep: AggregateReport): Seq[AggregateRecordRow] =
    rep.records.map { r =>
      AggregateRecordRow(
          report_id = rep.reportId,
          org_name = rep.orgName,
          source_ip_address = r.source.ipAddress,
          source_country = r.source.country,
          source_reverse_dns = r.source.reverseDns,
          source_base_domain = r.source.baseDomain,
          source_name = r.source.name,
          source_type = r.source.sourceType,
          count = r.count,
          spf_aligned = r.spfAligned,
          dkim_aligned = r.dkimAligned,
          dmarc_aligned = r.dmarcAligned,
          disposition = r.disposition,
          policy_override_reasons = r.overrides.map(_.reasonType.getOrElse("none")),
          policy_override_comments = r.overrides.map(_.comment.getOrElse("none")),
          envelope_from = r.envelopeFrom,
          header_from = r.headerFrom,
          envelope_to = r.envelopeTo,
          dkim_domains = r.dkim.map(_.domain),
          dkim_selectors = r.dkim.map(_.selector),
          dkim_results = r.dkim.map(_.result),
          spf_domains = r.spf.map(_.domain),
          spf_scopes = r.spf.map(_.scope),
          spf_results = r.spf.map(_.result),
          begin_date = rep.beginDate,
        )
    }

  /** Flattened records with the deterministic geo/rDNS enrichment
    * applied (parser.go:1272-1301's online path, re-expressed as a
    * broadcast fixture join — graft.functions.GeoEnrichment). This is
    * the frame the overview dashboard's geo panels expect; with the
    * raw offline records those panels are always empty.
    */
  def enrichedRecords(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    graft.functions.GeoEnrichment.enrich(
      aggregateRecords(spark, path, glob).toDF(), "source_ip_address")

  def forensicReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[ForensicReport] =
    parseForensic(files(spark, path, glob))

  /** Forensic reports with the deterministic geo/rDNS enrichment applied
    * to `source` (the forensic twin of `enrichedRecords` — without it
    * the forensic dashboard's Top Source Countries panel only ever sees
    * the offline parser's "Unknown").
    */
  def enrichedForensic(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    graft.functions.GeoEnrichment.enrichForensic(
      forensicReports(spark, path, glob).toDF())

  def tlsReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[TlsReport] =
    parseTls(files(spark, path, glob))

  /** (path, error) for files that fail to parse as aggregate reports. */
  def aggregateErrors(spark: SparkSession, path: String, glob: String = "*"): Dataset[(String, String)] = {
    import spark.implicits._
    parse(files(spark, path, glob)) { f =>
      AggregateXmlParser.parseAny(f.content).left.toOption.map(f.path -> _)
    }
  }
}
