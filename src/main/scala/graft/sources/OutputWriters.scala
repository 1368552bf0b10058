package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The stored tables: the five ClickHouse MergeTree tables of the
  * reference (clickhouse.go:79-228) as month-partitioned parquet, plus
  * the column projections its HTTP output path inserts. The CLI's
  * JSON/CSV documents (output.go) have one layout, [[ReportJson]].
  * Kafka/SMTP delivery is transport, not computation; on Spark the same
  * DataFrames feed writeStream sinks.
  */
object OutputWriters {

  /** The analytics TABLE layout — MergeTree parity with
    * `dmarc_aggregate_records` (clickhouse.go:107-138: PARTITION BY
    * toYYYYMM(begin_date), ORDER BY (org, report, ip, date)):
    * month-partitioned parquet, ONE shuffle keyed on the partition
    * column so each month is written by a single task's sorted run, rows
    * sorted within files on (org_name, report_id, source_ip_address,
    * begin_date) so parquet row-group min/max statistics serve the same
    * data-skipping role as MergeTree's primary index — a dashboard
    * filter on org or source IP skips whole row groups, and every
    * time-windowed panel prunes whole month directories.
    */
  def writeRecordsTable(records: Dataset[AggregateRecordRow], path: String): Unit =
    writeTable(records.toDF(), date_format(col("begin_date"), "yyyyMM"),
      Seq("org_name", "report_id", "source_ip_address", "begin_date"), path)

  /** Shared MergeTree-parity writer: month partition directories, one
    * shuffle keyed on the partition column, rows sorted inside files on
    * the table's ORDER BY key so parquet row-group min/max statistics
    * skip like the primary index.
    */
  private def writeTable(df: DataFrame, monthCol: org.apache.spark.sql.Column,
                         sortCols: Seq[String], path: String): Unit =
    df.withColumn("report_month", monthCol)
      .repartition(col("report_month"))
      .sortWithinPartitions(("report_month" +: sortCols).map(col): _*)
      .write.mode("overwrite")
      .partitionBy("report_month")
      .parquet(path)

  /** `dmarc_aggregate_reports` layout (clickhouse.go:79-100: ORDER BY
    * (org_name, report_id, begin_date), PARTITION BY month).
    */
  def writeReportsTable(reports: Dataset[AggregateReport], path: String): Unit =
    writeTable(reportsTableLayout(reports),
      date_format(col("begin_date"), "yyyyMM"),
      Seq("org_name", "report_id", "begin_date"), path)

  /** The `dmarc_aggregate_reports` column projection, exposed for the
    * parquet writer above AND the ClickHouse HTTP output path.
    */
  def reportsTableLayout(reports: Dataset[AggregateReport]): DataFrame =
    reports.toDF().select(
      col("xmlSchema").as("xml_schema"), col("orgName").as("org_name"),
      col("orgEmail").as("org_email"),
      col("orgExtraContactInfo").as("org_extra_contact_info"),
      col("reportId").as("report_id"), col("beginDate").as("begin_date"),
      col("endDate").as("end_date"), col("errors"), col("domain"),
      col("adkim"), col("aspf"), col("p"), col("sp"), col("pct"), col("fo"))

  /** `dmarc_forensic_reports` layout (clickhouse.go:175-176: ORDER BY
    * (arrival_date, source_ip_address), PARTITION BY month). The month
    * partition derives from the TYPED arrival timestamp — not from a
    * formatted date string, whose hardcoded 'Z' suffix would re-parse
    * as UTC and shift boundary rows into the wrong month on a
    * non-UTC session.
    */
  def writeForensicTable(forensic: Dataset[ForensicReport], path: String): Unit =
    writeTable(forensicTableLayout(forensic),
      date_format(col("arrival_date"), "yyyyMM"),
      Seq("arrival_date", "source_ip"), path)

  /** The `dmarc_forensic_reports` column projection, exposed for the
    * parquet writer above AND the ClickHouse HTTP output path.
    */
  def forensicTableLayout(forensic: Dataset[ForensicReport]): DataFrame =
    forensic.toDF().select(
      col("feedbackType").as("feedback_type"),
      coalesce(col("userAgent"), lit("")).as("user_agent"),
      coalesce(col("version"), lit("")).as("version"),
      coalesce(col("originalEnvelopeId"), lit("")).as("original_envelope_id"),
      coalesce(col("originalMailFrom"), lit("")).as("original_mail_from"),
      coalesce(col("originalRcptTo"), lit("")).as("original_rcpt_to"),
      col("arrivalDate").as("arrival_date"),
      col("subject"), col("messageId").as("message_id"),
      col("authenticationResults").as("authentication_results"),
      coalesce(col("dkimDomain"), lit("")).as("dkim_domain"),
      col("source.ipAddress").as("source_ip"),
      col("source.country").as("source_country"),
      col("deliveryResult").as("delivery_result"),
      col("authFailure").as("auth_failure"),
      col("reportedDomain").as("reported_domain"))

  /** `dmarc_smtp_tls_reports` layout (clickhouse.go:202-203: ORDER BY
    * (begin_date, organization_name), PARTITION BY month). Takes the
    * flattened frame from TlsAnalytics.tlsReportRows.
    */
  def writeTlsReportsTable(tlsReportRows: DataFrame, path: String): Unit =
    writeTable(tlsReportRows, date_format(col("begin_date"), "yyyyMM"),
      Seq("begin_date", "organization_name"), path)

  /** `dmarc_smtp_tls_failures` layout (clickhouse.go:227-228: ORDER BY
    * (report_id, result_type), PARTITION BY month(created_at) — the
    * reference partitions this table by INGEST time, so the caller
    * provides the ingest month).
    */
  def writeTlsFailuresTable(tlsFailureRows: DataFrame, ingestMonth: String,
                            path: String): Unit =
    writeTable(tlsFailureRows, lit(ingestMonth),
      Seq("report_id", "result_type"), path)
}
