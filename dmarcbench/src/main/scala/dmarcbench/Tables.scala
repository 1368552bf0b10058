package dmarcbench

import java.io.File

import graft.api.TlsAnalytics
import graft.sources.{AggregateRecordRow, ForensicReport, OutputWriters, TlsReport}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** One of the five MergeTree-parity tables: the columns that identify a
  * row, and the in-file sort order `OutputWriters` promises.
  */
final case class TableSpec(name: String, key: Seq[String], sort: Seq[String])

/** What the model says a table holds: rows, a hash of the key multiset
  * and the month partition directories.
  */
final case class TableExpect(rows: Long, keyHash: Long, months: Set[String])

object Tables {
  val Records = TableSpec("records", Seq("org_name", "report_id", "source_ip_address", "begin_date"),
    Seq("org_name", "report_id", "source_ip_address", "begin_date"))
  val Reports = TableSpec("reports", Seq("org_name", "report_id", "begin_date"),
    Seq("org_name", "report_id", "begin_date"))
  val Forensic = TableSpec("forensic", Seq("message_id", "arrival_date", "source_ip"),
    Seq("arrival_date", "source_ip"))
  val TlsReports = TableSpec("tls_reports", Seq("report_id", "policy_domain", "begin_date"),
    Seq("begin_date", "organization_name"))
  val TlsFailures = TableSpec("tls_failures", Seq("report_id", "result_type", "failed_session_count"),
    Seq("report_id", "result_type"))

  /** Order-independent hash of a key multiset: the wrapping sum of each
    * key's FNV-1a hash. Timestamps enter as epoch ms.
    */
  def keyHash(values: Seq[Any]): Long = {
    val s = values.map {
      case t: java.sql.Timestamp => t.getTime.toString
      case null => "\u0000"
      case v => v.toString
    }.mkString("\u0001")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  def expect(keys: Iterator[Seq[Any]], months: Set[String]): TableExpect = {
    var n, h = 0L
    keys.foreach { k => n += 1; h += keyHash(k) }
    TableExpect(n, h, months)
  }

  // -------------------------------------------------- model keys

  def recordKeys(a: ModelAggregate): Iterator[Seq[Any]] =
    a.records.iterator.map(m => Seq(a.org, a.reportId, m.ip, a.beginMs))
  def reportKey(a: ModelAggregate): Seq[Any] = Seq(a.org, a.reportId, a.beginMs)
  def forensicKey(f: ModelForensic): Seq[Any] = Seq(f.messageId, f.arrivalMs, f.ip)
  def tlsReportKeys(t: ModelTls): Iterator[Seq[Any]] =
    t.policies.iterator.map(p => Seq(t.reportId, p.domain, t.beginMs))
  def tlsFailureKeys(t: ModelTls): Iterator[Seq[Any]] =
    t.policies.iterator.flatMap(_.failures.map(f => Seq(t.reportId, f.resultType, f.failed)))

  /** Expected tables for a set of generated reports (`ingestMonth`: the
    * partition the TLS failures table is written under).
    */
  def expectAll(aggs: Seq[ModelAggregate], fs: Seq[ModelForensic], ts: Seq[ModelTls],
                ingestMonth: String): Map[String, TableExpect] = Map(
    "records" -> expect(aggs.iterator.flatMap(recordKeys), aggs.map(a => Clock.month(a.beginMs)).toSet),
    "reports" -> expect(aggs.iterator.map(reportKey), aggs.map(a => Clock.month(a.beginMs)).toSet),
    "forensic" -> expect(fs.iterator.map(forensicKey), fs.map(f => Clock.month(f.arrivalMs)).toSet),
    "tls_reports" -> expect(ts.iterator.flatMap(tlsReportKeys), ts.map(t => Clock.month(t.beginMs)).toSet),
    "tls_failures" -> expect(ts.iterator.flatMap(tlsFailureKeys),
      if (ts.exists(_.policies.exists(_.failures.nonEmpty))) Set(ingestMonth) else Set.empty))

  // ------------------------------------------------------ writers

  /** Write the five tables under `out` from the archive's three kind
    * directories, through the library's readers, enrichment and writers.
    */
  def ingest(spark: SparkSession, archive: String, out: String, ingestMonth: String, t: Tracer): Unit = {
    import spark.implicits._
    t.span("write.records") {
      val rows = t.span("reader.list") {
        graft.sources.DmarcReader.enrichedRecords(spark, s"$archive/aggregate").as[AggregateRecordRow]
      }
      OutputWriters.writeRecordsTable(rows, s"$out/records")
    }
    t.span("write.reports") {
      val reps = t.span("reader.list")(graft.sources.DmarcReader.aggregateReports(spark, s"$archive/aggregate"))
      OutputWriters.writeReportsTable(reps, s"$out/reports")
    }
    t.span("write.forensic") {
      val fs = t.span("reader.list") {
        graft.sources.DmarcReader.enrichedForensic(spark, s"$archive/forensic").as[ForensicReport]
      }
      OutputWriters.writeForensicTable(fs, s"$out/forensic")
    }
    val tls = t.span("reader.list")(graft.sources.DmarcReader.tlsReports(spark, s"$archive/tls"))
    t.span("write.tls_reports") {
      OutputWriters.writeTlsReportsTable(TlsAnalytics.tlsReportRows(tls), s"$out/tls_reports")
    }
    t.span("write.tls_failures") {
      OutputWriters.writeTlsFailuresTable(TlsAnalytics.tlsFailureRows(tls), ingestMonth, s"$out/tls_failures")
    }
  }

  /** Write the tables the dashboard reads from already-built rows. */
  def writeGenerated(records: Dataset[AggregateRecordRow], forensic: Dataset[ForensicReport],
                     tls: Dataset[TlsReport], out: String, ingestMonth: String): Unit = {
    import records.sparkSession.implicits._
    OutputWriters.writeRecordsTable(
      graft.functions.GeoEnrichment.enrich(records.toDF(), "source_ip_address").as[AggregateRecordRow],
      s"$out/records")
    OutputWriters.writeForensicTable(
      graft.functions.GeoEnrichment.enrichForensic(forensic.toDF()).as[ForensicReport], s"$out/forensic")
    OutputWriters.writeTlsReportsTable(TlsAnalytics.tlsReportRows(tls), s"$out/tls_reports")
    OutputWriters.writeTlsFailuresTable(TlsAnalytics.tlsFailureRows(tls), ingestMonth, s"$out/tls_failures")
  }

  // ------------------------------------------------------- checks

  def months(path: String): Set[String] =
    Option(new File(path).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("report_month=")).map(_.stripPrefix("report_month=")).toSet

  def parquetFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("_")).flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(path))
  }

  /** Check a stored table against the model: row count, key multiset,
    * month directories, and that rows inside every file follow the sort
    * key. Returns the names of the checks that failed.
    */
  def check(spark: SparkSession, path: String, spec: TableSpec, want: TableExpect): Seq[String] = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    val (n, h) = df.select(spec.key.map(col): _*)
      .mapPartitions { it =>
        var n, h = 0L
        it.foreach { r => n += 1; h += keyHash(r.toSeq) }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val outOfOrder = df.select((col("_metadata.file_path") +: spec.sort.map(col)): _*).mapPartitions { it =>
      var bad = 0L
      var prev: Row = null
      it.foreach { r =>
        if (prev != null && prev.getString(0) == r.getString(0) && rowCompare(prev, r) > 0) bad += 1
        prev = r
      }
      Iterator(bad)
    }.collect().sum
    Seq(
      s"${spec.name}.rows" -> (n == want.rows),
      s"${spec.name}.keys" -> (h == want.keyHash),
      s"${spec.name}.months" -> (months(path) == want.months),
      s"${spec.name}.sort" -> (outOfOrder == 0)).collect { case (name, false) => name }
  }

  private def rowCompare(a: Row, b: Row): Int = {
    var i = 1
    while (i < a.length) {
      val c = (a.get(i), b.get(i)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: String, y: String) => x.compareTo(y)
        case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
        case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
        case _ => 0
      }
      if (c != 0) return c
      i += 1
    }
    0
  }
}
