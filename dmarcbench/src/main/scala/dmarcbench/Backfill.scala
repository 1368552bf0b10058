package dmarcbench

import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

import graft.sources.{AggregateXmlParser, DmarcReader, ForensicParser, TlsReportParser}
import org.apache.spark.sql.SparkSession

/** A report archive on disk and the model of what it holds. */
final case class Archive(root: Path, aggs: Vector[ModelAggregate], forensic: Vector[ModelForensic],
                         tls: Vector[ModelTls], files: Int, bytes: Long, malformed: Int) {
  def reports: Int = aggs.size + forensic.size + tls.size
}

object Archive {
  /** Write a mixed archive into `aggregate/`, `forensic/` and `tls/`:
    * aggregate reports as raw XML, gzip, zip and base64 mail in turn,
    * TLS reports as JSON, gzip JSON and mail, ARF mails for forensic
    * reports, and one malformed file per 100 reports of each kind.
    */
  def write(root: Path, seed: Long, clock: Clock, nAgg: Int, nForensic: Int, nTls: Int): Archive = {
    Seq("aggregate", "forensic", "tls").foreach(d => Files.createDirectories(root.resolve(d)))
    var files, malformed = 0
    var bytes = 0L
    def put(dir: String, name: String, b: Array[Byte]): Unit = {
      Files.write(root.resolve(dir).resolve(name), b, StandardOpenOption.CREATE_NEW)
      files += 1; bytes += b.length
    }
    val aggs = Vector.tabulate(nAgg)(i => Gen.aggregate(seed, clock, i, Clock.SpanDays))
    aggs.zipWithIndex.foreach { case (a, i) =>
      val xml = Gen.aggregateXml(a).getBytes("UTF-8")
      val name = s"${a.org}!${a.domain}!${a.beginMs / 1000}!${a.reportId}"
      i % 4 match {
        case 0 => put("aggregate", s"$name.xml", xml)
        case 1 => put("aggregate", s"$name.xml.gz", Gen.gzip(xml))
        case 2 => put("aggregate", s"$name.zip", Gen.zip(s"$name.xml", xml))
        case _ => put("aggregate", s"${a.reportId}.eml", Gen.mail(s"Report Domain: ${a.domain} Report-ID: ${a.reportId}",
          a.beginMs, s"$name.xml.gz", "application/gzip", Gen.gzip(xml)))
      }
      if (i % 100 == 50) {
        malformed += 1
        (i / 100) % 3 match {
          case 0 => put("aggregate", s"invalid-$i.xml", xml.take(xml.length / 2))
          case 1 => put("aggregate", s"empty-$i.xml", Array.emptyByteArray)
          case _ => put("aggregate", s"bad-gzip-$i.xml.gz", badGzip(xml))
        }
      }
    }
    val fs = Vector.tabulate(nForensic)(i => Gen.forensic(seed, clock, i, Clock.SpanDays))
    fs.zipWithIndex.foreach { case (f, i) =>
      put("forensic", s"arf-$i.eml", Gen.arfEml(f))
      if (i % 100 == 50) {
        malformed += 1
        put("forensic", s"no-feedback-$i.eml", "Subject: hello\r\n\r\n".getBytes("UTF-8"))
      }
    }
    val ts = Vector.tabulate(nTls)(i => Gen.tls(seed, clock, i, Clock.SpanDays))
    ts.zipWithIndex.foreach { case (t, i) =>
      val json = Gen.tlsJson(t).getBytes("UTF-8")
      i % 3 match {
        case 0 => put("tls", s"${t.reportId}.json", json)
        case 1 => put("tls", s"${t.reportId}.json.gz", Gen.gzip(json))
        case _ => put("tls", s"${t.reportId}.eml", Gen.mail(s"Report Domain: example.com TLS-Report-ID: ${t.reportId}",
          t.beginMs, s"${t.reportId}.json.gz", "application/tlsrpt+gzip", Gen.gzip(json)))
      }
      if (i % 100 == 50) {
        malformed += 1
        put("tls", s"invalid-$i.json", json.take(json.length / 2))
      }
    }
    Archive(root, aggs, fs, ts, files, bytes, malformed)
  }

  /** A `.gz` whose magic bytes are wrong, so it is neither gzip nor a
    * report. (A stream with the right magic and a corrupt body makes the
    * aggregate parser throw instead of reject; that case is left out
    * because it fails the whole ingest job.)
    */
  def badGzip(xml: Array[Byte]): Array[Byte] = {
    val gz = Gen.gzip(xml)
    gz(0) = 0x1e
    gz
  }
}

/** `backfill`: a batch ingest of a mixed archive into all five tables,
  * repeated for the run's seconds. One operation is a pass, from the
  * archive to the last table committed; throughput is reports per second
  * of a pass.
  */
object Backfill {
  val Aggregates = 1200
  val Forensics = 120
  val Tls = 60
  /** Passes over a three-quarter-size archive before timing: pass rates
    * climb over a JVM's first passes.
    */
  val WarmPasses = 2
  val MinPasses = 2

  def run(r: Run): Outcome = {
    val spark = r.spark
    val t0 = System.nanoTime()
    val archive = Archive.write(r.dir("archive"), r.seed, r.clock, Aggregates, Forensics, Tls)
    val month = Clock.month(r.clock.nowMs)
    // warm-up on a separate seed: the JIT and Spark's code generation
    // settle before any pass is timed
    val warmSeed = r.seed + 1000003L
    val warm = Archive.write(r.dir("warm"), warmSeed, r.clock, Aggregates * 3 / 4, Forensics * 3 / 4, Tls * 3 / 4)
    (0 until WarmPasses).foreach { k =>
      Tables.ingest(spark, warm.root.toString, r.work.resolve(s"warm-out-$k").toString, month, r.probes.tracer)
      r.clean(r.work.resolve(s"warm-out-$k"))
    }
    val setupS = r.sessionBuildS + Stats.secondsSince(t0)
    r.log(f"setup ${setupS}%.2f s: ${archive.files} files, ${archive.bytes / 1e6}%.1f MB, ${archive.reports} reports")

    var pass = 0
    /** Passes for `seconds` and at least `MinPasses`: each one's seconds,
      * and the tables the last one wrote.
      */
    def passes(seconds: Double): (Seq[Double], Path) = {
      val start = System.nanoTime()
      val times = Seq.newBuilder[Double]
      var n = 0
      var last: Path = null
      while (Stats.secondsSince(start) < seconds || n < MinPasses) {
        if (last != null) r.clean(last)
        last = r.work.resolve(s"out-$pass")
        times += Stats.timed(Tables.ingest(spark, archive.root.toString, last.toString, month, r.probes.tracer))._2
        pass += 1; n += 1
      }
      (times.result(), last)
    }
    def measured(times: Seq[Double]): Seq[Metric] =
      Common.measured(Stats.median(times.map(archive.reports / _)), times.map(_ * 1000))

    val (times, out) = passes(r.seconds)
    val base = measured(times)
    r.log(f"untraced passes: ${times.map(t => f"${archive.reports / t}%.0f").mkString(" ")} reports/s")

    val want = Tables.expectAll(archive.aggs, archive.forensic, archive.tls, month)
    val specs = Seq(Tables.Records, Tables.Reports, Tables.Forensic, Tables.TlsReports, Tables.TlsFailures)
    val failures = specs.flatMap(s => Tables.check(spark, out.resolve(s.name).toString, s, want(s.name)))
    val attempted = times.size.toLong * archive.files + specs.size * 4
    val context = Seq("warmup_seed" -> warmSeed.toString, "warmup_passes_before_timing" -> WarmPasses.toString,
      "passes" -> times.size.toString, "archive_files" -> archive.files.toString,
      "archive_reports" -> archive.reports.toString, "archive_malformed_files" -> archive.malformed.toString)
    val reportsPerS = Metric("backfill_reports_per_s", base.head.value, "1/s")

    if (!r.trace)
      Outcome(attempted, failures.size, failures.size, Metric("setup_s", setupS, "s") +: base, failures, context,
        Seq(reportsPerS))
    else {
      val (layers, detail, viewer) = traced(r, archive, month, base, passes, measured)
      Outcome(attempted + viewer.attempted, failures.size + viewer.failed, failures.size + viewer.wrong, layers,
        failures ++ viewer.failures.result(), context, reportsPerS +: detail)
    }
  }

  /** The traced run: the same passes with spans and listeners on, one
    * load of every panel over the tables the last pass wrote (the query
    * layer over freshly ingested tables, checked against the model), then
    * the probes that need passes of their own.
    */
  private def traced(r: Run, archive: Archive, month: String, untraced: Seq[Metric],
                     passes: Double => (Seq[Double], Path),
                     measured: Seq[Double] => Seq[Metric]): (Seq[Metric], Seq[Metric], Viewer) = {
    val spark = r.spark
    val p = r.probes
    p.setTracing(true)
    val c0 = p.counts
    val (times, last) = passes(r.seconds)
    val c1 = p.counts
    val n = times.size
    val sc = c1 - c0
    val self = p.tracer.selfSeconds
    val want = Dashboard.expectedOf(archive.aggs.iterator, archive.forensic.iterator, archive.tls.iterator, r.clock)
    val viewer = new Viewer(r, Dashboard.panels(spark, last), Dashboard.lookup(want, r.clock, ""))
    p.queries.drain()
    val (samples, _) = viewer.load()
    val c2 = p.counts
    val query = QueryMetrics(p.queries.drain(), samples)
    p.setTracing(false)
    viewer.close()
    val writes = Seq("records", "reports", "forensic", "tls_reports", "tls_failures")
    val outFiles = Tables.parquetFiles(last.toString)
    val storedBytes = outFiles.map(_.length).sum
    val rejected = rejectedFiles(spark, archive)
    val enrich = enrichProbe(r, archive)
    val layers = Common.layers(r, query, SparkMetrics(sc, n), measured(times), untraced)
    val detail = Seq(
      Metric("reader.files", archive.files, "count"),
      Metric("reader.list_s", p.tracer.total("reader.list") / n, "s"),
      Metric("reader.input_mb", sc.inputBytes / 1e6 / n, "MB"),
      Metric("reader.read_amplification", sc.inputBytes.toDouble / n / archive.bytes, "ratio"),
      Metric("reader.rejected_files", rejected, "count"),
      Metric("enrich.self_s", enrich._1, "s"),
      Metric("enrich.jobs", enrich._2, "count")) ++
      writes.map(w => Metric(s"write.$w.s", self.getOrElse(s"write.$w", 0.0) / n, "s")) ++ Seq(
      Metric("write.files", outFiles.size, "count"),
      Metric("write.stored_mb", storedBytes / 1e6, "MB"),
      Metric("write.stored_bytes_per_input_byte", storedBytes.toDouble / archive.bytes, "ratio"),
      Metric("write.shuffle_mb", sc.shuffleWriteBytes / 1e6 / n, "MB"),
      Metric("write.spill_mb", sc.spillBytes / 1e6 / n, "MB"),
      Metric("write.jobs", sc.jobs.toDouble / n, "count")) ++
      QueryMetrics.perPanel(c2 - c1, samples.size)
    (layers, detail, viewer)
  }

  /** Files each reader turns away: the aggregate reader's own error
    * listing, and for the other kinds the files that parse to nothing.
    */
  private def rejectedFiles(spark: SparkSession, a: Archive): Long = {
    val root = a.root.toString
    val agg = DmarcReader.aggregateErrors(spark, s"$root/aggregate").count()
    val nFor = Files.list(a.root.resolve("forensic")).count()
    val nTls = Files.list(a.root.resolve("tls")).count()
    val f = nFor - DmarcReader.forensicReports(spark, s"$root/forensic").count()
    val t = nTls - DmarcReader.tlsReports(spark, s"$root/tls").count()
    agg + f + t
  }

  /** Enrichment's own cost: a parse-plus-enrich pass minus a parse-only
    * pass over the aggregate archive, each fully consumed by a no-op sink;
    * medians of three. Also the jobs one enriched pass runs.
    */
  private def enrichProbe(r: Run, a: Archive): (Double, Double) = {
    val spark = r.spark
    val dir = a.root.resolve("aggregate").toString
    def noop(df: => org.apache.spark.sql.DataFrame): Double =
      Stats.timed(df.write.format("noop").mode("overwrite").save())._2
    val plain = Stats.median((0 until 3).map(_ => noop(DmarcReader.aggregateRecords(spark, dir).toDF())))
    val c0 = r.probes.counts
    val enriched = Stats.median((0 until 3).map(_ => noop(DmarcReader.enrichedRecords(spark, dir))))
    val jobs = (r.probes.counts - c0).jobs / 3.0
    (enriched - plain, jobs)
  }
}

/** Spark runtime counters per pass (or per unit of work `n`). */
object SparkMetrics {
  def apply(c: SparkCounts, n: Double): Seq[Metric] = Seq(
    Metric("spark.jobs", c.jobs / n, "count"),
    Metric("spark.tasks", c.tasks / n, "count"),
    Metric("spark.executor_cpu_s", c.cpuNs / 1e9 / n, "s"),
    Metric("spark.executor_run_s", c.runMs / 1e3 / n, "s"),
    Metric("spark.gc_s", c.gcMs / 1e3 / n, "s"),
    Metric("spark.scheduler_delay_s", c.schedDelayMs / 1e3 / n, "s"),
    Metric("spark.result_mb", c.resultBytes / 1e6 / n, "MB"))
}

/** The parsers timed per call on one thread over a fixed generated
  * sample (seed 1, so every run and every workload parses the same
  * bytes).
  */
object ParseProbe {
  def run(r: Run): Seq[Metric] = {
    val clock = r.clock
    val aggs = Vector.tabulate(200)(i => Gen.aggregate(1L, clock, i, 30, fixedRecords = 5))
    val xml = aggs.map(a => Gen.aggregateXml(a).getBytes("UTF-8"))
    val gz = xml.map(Gen.gzip)
    val zip = xml.map(b => Gen.zip("r.xml", b))
    val eml = aggs.zip(gz).map { case (a, g) => Gen.mail("r", a.beginMs, "r.xml.gz", "application/gzip", g) }
    val arf = Vector.tabulate(200)(i => Gen.arfEml(Gen.forensic(1L, clock, i, 30)))
    val tls = Vector.tabulate(200)(i => Gen.tlsJson(Gen.tls(1L, clock, i, 30)).getBytes("UTF-8"))
    val big = Vector.tabulate(10)(i => Gen.aggregateXml(Gen.aggregate(1L, clock, i, 30, fixedRecords = 500))
      .getBytes("UTF-8"))

    /** Median over rounds of microseconds per call; each round parses the
      * whole sample, and rounds repeat for at least 0.2 s.
      */
    def perCall(sample: Vector[Array[Byte]], parse: Array[Byte] => Either[String, _]): Double = {
      sample.foreach(b => require(parse(b).isRight, "parse probe sample must parse"))
      val t0 = System.nanoTime()
      val rounds = Seq.newBuilder[Double]
      var k = 0
      while (k < 5 || Stats.secondsSince(t0) < 0.2) {
        val (_, s) = Stats.timed(sample.foreach(parse))
        rounds += s * 1e6 / sample.size
        k += 1
      }
      Stats.median(rounds.result())
    }
    Seq(
        Metric("parse.xml_us_per_report", perCall(xml, AggregateXmlParser.parseAny), "us"),
        Metric("parse.gz_us_per_report", perCall(gz, AggregateXmlParser.parseAny), "us"),
        Metric("parse.zip_us_per_report", perCall(zip, AggregateXmlParser.parseAny), "us"),
        Metric("parse.eml_us_per_report", perCall(eml, AggregateXmlParser.parseAny), "us"),
        Metric("parse.arf_us_per_report", perCall(arf, ForensicParser.parse), "us"),
        Metric("parse.tls_us_per_report", perCall(tls, TlsReportParser.parseAny), "us"),
        Metric("parse.us_per_record", perCall(big, AggregateXmlParser.parseAny) / 500, "us"))
  }
}
