package graft

import java.nio.file.{Files, Path}

import graft.DmarcFixtures._
import graft.sources._
import graft.streaming.ReportFileIntake

/** The one DMARC report path, on inline fixtures: the format-detecting
  * parse chain every intake calls, its error text, corrupt compressed
  * input as a per-file parse error, and the batch reader, the
  * drop-directory stream and the IMAP intake landing on the same
  * record rows.
  */
class ReportPathSpec extends SparkSpec {

  private def dirOf(files: Seq[(String, Array[Byte])]): Path = {
    val dir = Files.createTempDirectory("graft-report-path")
    files.foreach { case (name, b) => Files.write(dir.resolve(name), b) }
    dir
  }

  test("parseAny labels every fixture with its family") {
    val families = AllFiles.map { case (name, b) =>
      name -> ParsedReport.parseAny(b).map(_.family).fold(e => s"error: $e", identity)
    }
    assert(families == Seq(
      "agg.xml" -> "aggregate", "agg.xml.gz" -> "aggregate", "agg.zip" -> "aggregate",
      "agg.eml" -> "aggregate", "arf.eml" -> "forensic", "tls.json" -> "smtp_tls"))
    ParsedReport.parseAny(utf8(AggregateEml)) match {
      case Right(ParsedAggregate(r)) =>
        assert(r.reportId == "fixture-agg-1" && r.records.map(_.count) == Seq(3, 1))
      case other => fail(other.toString)
    }
    ParsedReport.parseAny(utf8(ArfEml)) match {
      case Right(ParsedForensic(r)) =>
        assert(r.reportedDomain == "example.com" && r.deliveryResult == "reject")
      case other => fail(other.toString)
    }
    ParsedReport.parseAny(utf8(TlsJson)) match {
      case Right(ParsedTls(r)) =>
        assert(r.reportId == "fixture-tls-1" && r.policies.map(_.failureDetails.size) == Seq(2, 0))
      case other => fail(other.toString)
    }
  }

  test("garbage input: the joined three-family error") {
    assert(ParsedReport.parseAny(utf8("not a report")) == Left(
      "aggregate: no aggregate report found in email; " +
        "forensic: no feedback report found; " +
        "smtp_tls: no SMTP TLS report found"))
  }

  test("a truncated gzip is a parse error naming the file, not a dead job") {
    val bad = truncatedGzip
    assert(AggregateXmlParser.parseAny(bad).left.exists(_.startsWith("invalid compressed data")))
    assert(ParsedReport.parseAny(bad).isLeft)
    // a blank line inside the cut stored body is no forensic report
    val stored = truncatedStoredGzip
    assert(new String(stored, "ISO-8859-1").contains("\n\n"))
    assert(ParsedReport.parseAny(stored).left.exists(_.startsWith("invalid compressed data")))
    val dir = dirOf(Seq("good.xml" -> utf8(AggregateXml), "bad.xml.gz" -> bad)).toString
    assert(DmarcReader.aggregateReports(spark, dir).collect().map(_.reportId).toSeq ==
      Seq("fixture-agg-1"))
    val errors = DmarcReader.aggregateErrors(spark, dir).collect()
    assert(errors.length == 1 && errors.head._1.endsWith("bad.xml.gz"), errors.mkString(","))
    assert(errors.head._2.startsWith("invalid compressed data"), errors.head._2)
    // the archive audit and the ingest counters survive the same file
    val audit = ReportValidator.validateDirectory(spark, dir).collect()
      .map(r => r.getString(0).split('/').last -> r.getBoolean(2)).toMap
    assert(audit == Map("good.xml" -> true, "bad.xml.gz" -> false))
    val m = IngestMetrics.aggregateSummary(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map(
      "dmarc_reports_parsed_total" -> 1.0, "dmarc_parse_errors_total" -> 1.0,
      "dmarc_records_total" -> 2.0, "dmarc_messages_total" -> 4.0,
      "dmarc_records_per_report_avg" -> 2.0))
  }

  test("batch read, AvailableNow stream and IMAP intake produce the same record rows") {
    import spark.implicits._
    def multiset(rows: Seq[AggregateRecordRow]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val dir = dirOf(AllFiles)
    val batch = DmarcReader.aggregateRecords(spark, dir.toString).collect().toSeq
    // xml, gz, zip and eml each carry the report's two records
    assert(batch.size == 8 && batch.map(_.report_id).distinct == Seq("fixture-agg-1"))

    val tmp = Files.createTempDirectory("graft-report-path-out")
    val q = ReportFileIntake.appendRecords(spark, dir.toString,
      tmp.resolve("out").toString, tmp.resolve("ckpt").toString)
    assert(q.awaitTermination(120000))
    val streamed = spark.read.parquet(tmp.resolve("out").toString)
      .as[AggregateRecordRow].collect().toSeq
    assert(multiset(streamed) == multiset(batch))

    val seed = AllFiles.map { case (name, b) =>
      if (name.endsWith(".eml")) b else ImapIntake.wrapReportEmail(name, b)
    }
    val server = new InMemoryImap("dmarc", "secret", seed)
    val mailed =
      try ImapIntake.aggregateRecords(spark, ImapIntake.pullMessages(
          ImapConfig("127.0.0.1", server.port, "dmarc", "secret"))).collect().toSeq
      finally server.close()
    assert(multiset(mailed) == multiset(batch))
  }
}
