package graft

import graft.sources.{DmarcReader, IngestMetrics}

class IngestMetricsSpec extends SparkSpec {
  test("metrics agree with the ingest datasets") {
    val path = s"${operators.DmarcIngest.Samples}/aggregate"
    val m = IngestMetrics.aggregateSummary(spark, path).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("dmarc_reports_parsed_total") > 0)
    assert(m("dmarc_parse_errors_total") > 0) // invalid_* samples exist
    assert(m("dmarc_records_total") ==
      DmarcReader.aggregateRecords(spark, path).count().toDouble)
    assert(m("dmarc_messages_total") >= m("dmarc_records_total"))
    assert(m("dmarc_records_per_report_avg") ==
      m("dmarc_records_total") / m("dmarc_reports_parsed_total"))
  }
}
