package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Observability surface mirroring the reference's Prometheus counters
  * (/root/reference/internal/metrics/metrics.go): parse totals, failure
  * totals, record volumes — computed from the ingest Datasets themselves
  * so the numbers are exact, not sampled. On a cluster these feed a
  * metrics sink after each ingest batch.
  */
object IngestMetrics {

  /** One row per metric: (metric, value). One parse of each file and
    * one aggregate over the per-file tallies.
    */
  def aggregateSummary(spark: SparkSession, path: String, glob: String = "*"): DataFrame = {
    import spark.implicits._
    val t = DmarcReader.parse(DmarcReader.files(spark, path, glob)) { f =>
        Some(AggregateXmlParser.parseAny(f.content).fold(
          _ => (0L, 1L, 0L, 0L),
          r => (1L, 0L, r.records.size.toLong, r.records.map(_.count.toLong).sum)))
      }
      .toDF("reports", "errors", "records", "messages")
      .agg(sum("reports"), sum("errors"), sum("records"), sum("messages"))
      .na.fill(0L).head()
    val (nReports, nErrors, nRecords, totalMsgs) =
      (t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3))
    Seq(
      ("dmarc_reports_parsed_total", nReports.toDouble),
      ("dmarc_parse_errors_total", nErrors.toDouble),
      ("dmarc_records_total", nRecords.toDouble),
      ("dmarc_messages_total", totalMsgs.toDouble),
      ("dmarc_records_per_report_avg",
        if (nReports == 0) 0.0 else nRecords.toDouble / nReports),
    ).toDF("metric", "value")
  }
}
