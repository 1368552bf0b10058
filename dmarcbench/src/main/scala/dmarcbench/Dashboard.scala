package dmarcbench

import java.nio.file.Path

import scala.util.{Failure, Success, Try}

import graft.sources.{AggregateRecordRow, ForensicReport, TlsReport}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{array_join, col}

/** One panel query as the viewer saw it. */
final case class PanelSample(name: String, submitNs: Long, startNs: Long, endNs: Long,
                             result: Try[Vector[Vector[Any]]]) {
  def ms: Double = (endNs - startNs) / 1e6
  def waitMs: Double = (startNs - submitNs) / 1e6
}

/** A viewer's loads: every panel sample, each load's seconds from
  * opening the dashboards to the last panel returning, and the seconds
  * all of them took.
  */
final case class Loads(samples: Seq[PanelSample], loadSeconds: Seq[Double], seconds: Double) {
  def ok: Seq[PanelSample] = samples.filter(_.result.isSuccess)
}

/** The closed-loop viewer: loads a set of panels with at most `slots`
  * queries in flight, checks every answer (unless `checked` is off, for
  * tables still changing under it), and loads again.
  */
final class Viewer(r: Run, panels: Vector[Panel], expect: String => Option[Expect], checked: Boolean = true,
                   slots: Int = 0) {
  private val pool = new Pool(if (slots > 0) slots else r.nproc)
  var attempted, failed, wrong = 0L
  val failures = Seq.newBuilder[String]

  def load(): (Seq[PanelSample], Double) = {
    val t = r.probes.tracer
    t.span("viewer.load") {
      val parent = t.current
      val start = System.nanoTime()
      val futures = panels.map { p =>
        val submit = System.nanoTime()
        pool.submit {
          val s = System.nanoTime()
          val res = Try(t.span(s"query.${p.name}", parent)(p.run(r.spark)))
          PanelSample(p.name, submit, s, System.nanoTime(), res)
        }
      }
      val samples = futures.map(_.get)
      samples.foreach { s =>
        attempted += 1
        s.result match {
          case Failure(e) =>
            failed += 1
            failures += s"${s.name}: ${e.getClass.getSimpleName}"
          case Success(rows) =>
            if (checked && !expect(s.name).exists(Panels.matches(rows, _))) {
              failed += 1; wrong += 1
              failures += s"${s.name}: answer differs from the model"
            }
        }
      }
      (samples, (samples.map(_.endNs).max - start) / 1e9)
    }
  }

  /** Load until `seconds` have passed and at least `minSamples` panels
    * have answered.
    */
  def loop(seconds: Double, minSamples: Int): Loads = {
    val t0 = System.nanoTime()
    val all = Seq.newBuilder[PanelSample]
    val loads = Seq.newBuilder[Double]
    var answered = 0
    while (Stats.secondsSince(t0) < seconds || answered < minSamples) {
      val (s, l) = load()
      all ++= s; loads += l
      answered += s.count(_.result.isSuccess)
    }
    Loads(all.result(), loads.result(), Stats.secondsSince(t0))
  }

  def close(): Unit = pool.close()
}

/** `dashboard`: one viewer loads the overview, forensic and TLS panels
  * over tables written in set-up from about 70k generated records. One
  * operation is a panel query; throughput is panels answered per second.
  */
object Dashboard {
  val Reports = 12000
  val Forensics = 1200
  val Tls = 240
  /** Panel samples a run takes at least, for a p95 with four samples
    * beyond it.
    */
  val MinSamples = 80
  /** Warm-up loads over tables a tenth the size: load times fall over the
    * first loads of a JVM.
    */
  val WarmLoads = 2
  val WarmShare = 10

  /** The four tables the panels read, written by `OutputWriters` from
    * generated rows; nothing is parsed.
    */
  def materialize(spark: SparkSession, seed: Long, clock: Clock, nReports: Int, nForensic: Int,
                  nTls: Int, out: Path, parts: Int): Unit = {
    import spark.implicits._
    val ids = (n: Int) => spark.range(0, n, 1, parts).as[Long]
    val records: Dataset[AggregateRecordRow] =
      ids(nReports).flatMap(i => Gen.recordRows(Gen.aggregate(seed, clock, i, Clock.SpanDays)))
    val forensic: Dataset[ForensicReport] =
      ids(nForensic).map(i => Gen.forensicReport(Gen.forensic(seed, clock, i, Clock.SpanDays)))
    val tls: Dataset[TlsReport] = ids(nTls).map(i => Gen.tlsReport(Gen.tls(seed, clock, i, Clock.SpanDays)))
    Tables.writeGenerated(records, forensic, tls, out.toString, Clock.month(clock.nowMs))
  }

  /** The views the panel SQL names. The forensic view renames
    * `source_ip` and joins `auth_failure` as `registerViews` does, and
    * adds nothing else.
    */
  def panels(spark: SparkSession, out: Path): Vector[Panel] = {
    spark.read.parquet(out.resolve("records").toString).createOrReplaceTempView("dmarc_aggregate_records")
    spark.read.parquet(out.resolve("forensic").toString)
      .withColumnRenamed("source_ip", "source_ip_address")
      .withColumn("auth_failure", array_join(col("auth_failure"), ";"))
      .createOrReplaceTempView("dmarc_forensic_reports")
    val tlsReports: DataFrame = spark.read.parquet(out.resolve("tls_reports").toString)
    val tlsFailures: DataFrame = spark.read.parquet(out.resolve("tls_failures").toString)
    Panels.overview ++ Panels.forensic ++ Panels.tls(tlsReports, tlsFailures)
  }

  /** Every panel's model answer, in plain Scala over the generator. */
  def expected(seed: Long, clock: Clock, nReports: Int, nForensic: Int, nTls: Int): Map[String, Expect] = {
    val recent = Iterator.range(0, nReports).flatMap { i =>
      val head = Gen.aggregate(seed, clock, i, Clock.SpanDays, withRecords = false)
      if (head.beginMs >= clock.monthEdgeMs) Some(Gen.aggregate(seed, clock, i, Clock.SpanDays)) else None
    }
    expectedOf(recent, Iterator.range(0, nForensic).map(i => Gen.forensic(seed, clock, i, Clock.SpanDays)),
      Iterator.range(0, nTls).map(i => Gen.tls(seed, clock, i, Clock.SpanDays)), clock)
  }

  /** Every panel's model answer over tables holding these reports. */
  def expectedOf(aggs: Iterator[ModelAggregate], fs: Iterator[ModelForensic], ts: Iterator[ModelTls],
                 clock: Clock): Map[String, Expect] =
    Panels.expectOverview(aggs, clock, enriched = true) ++
      Panels.expectForensic(fs, clock) ++ Panels.expectTls(ts)

  /** `forensic.2` counts today's reports; if the run crosses midnight
    * UTC, today has none.
    */
  def lookup(expect: Map[String, Expect], clock: Clock, inject: String)(name: String): Option[Expect] =
    if (name == "forensic.2" && Clock.day(System.currentTimeMillis()) != Clock.day(clock.nowMs))
      Some(Expect(Vector(Vector(0L)), Nil, None))
    else if (name == "forensic.1" && inject == "wrong_answer")
      expect.get(name).map(e => e.copy(rows = Vector(Vector(e.rows.head.head.asInstanceOf[Long] + 1))))
    else expect.get(name)

  def run(r: Run): Outcome = {
    val spark = r.spark
    val t0 = System.nanoTime()
    val parts = 4 * r.nproc
    val want = expected(r.seed, r.clock, Reports, Forensics, Tls)
    // warm-up on a separate seed and a tenth of the rows: its tables
    // take the cold write path, its loads the cold query path
    val warmSeed = r.seed + 1000003L
    val warmOut = r.dir("warm-tables")
    materialize(spark, warmSeed, r.clock, Reports / WarmShare, Forensics / WarmShare, Tls / WarmShare, warmOut, parts)
    val out = r.work.resolve("tables")
    materialize(spark, r.seed, r.clock, Reports, Forensics, Tls, out, parts)
    r.log(f"tables written at ${Stats.secondsSince(t0)}%.2f s")
    val warmViewer = new Viewer(r, panels(spark, warmOut),
      lookup(expected(warmSeed, r.clock, Reports / WarmShare, Forensics / WarmShare, Tls / WarmShare), r.clock, ""))
    (0 until WarmLoads).foreach(_ => warmViewer.load())
    warmViewer.close()
    val ps = panels(spark, out)
    val setupS = r.sessionBuildS + Stats.secondsSince(t0)
    r.log(f"setup ${setupS}%.2f s")

    val viewer = new Viewer(r, ps, lookup(want, r.clock, r.inject))
    val loads = viewer.loop(r.seconds, MinSamples)
    val base = measured(loads)
    val loadP50 = Stats.median(loads.loadSeconds)
    r.log(f"${loads.loadSeconds.size} loads, ${loads.ok.size} answered panels: " +
      base.map(m => f"${m.name} ${m.value}%.1f").mkString(", ") + f", load p50 $loadP50%.3f s; loads " +
      loads.loadSeconds.map(x => f"$x%.2f").mkString(" ") + " s")
    val detail = Seq(
      Metric("panel_p50_ms", base(1).value, "ms"),
      Metric("panel_p95_ms", base(2).value, "ms"),
      Metric("dashboard_load_p50_s", loadP50, "s"))

    val (metrics, traceDetail) =
      if (!r.trace) (Metric("setup_s", setupS, "s") +: base, Nil)
      else traced(r, viewer, out, base)
    viewer.close()

    val tableFailures = checkTables(r, out)
    Outcome(viewer.attempted + 16, viewer.failed + tableFailures.size, viewer.wrong + tableFailures.size,
      metrics, viewer.failures.result() ++ tableFailures,
      Seq("warmup_seed" -> warmSeed.toString, "warmup_loads_before_timing" -> WarmLoads.toString,
        "loads" -> loads.loadSeconds.size.toString, "panel_samples" -> loads.ok.size.toString),
      detail ++ traceDetail)
  }

  /** Panels answered per second, and each answered panel's latency. */
  private def measured(loads: Loads): Seq[Metric] =
    Common.measured(loads.ok.size / loads.seconds, loads.ok.map(_.ms))

  private def traced(r: Run, viewer: Viewer, out: Path, untraced: Seq[Metric]): (Seq[Metric], Seq[Metric]) = {
    val p = r.probes
    p.setTracing(true)
    p.queries.drain()
    val c0 = p.counts
    val loads = viewer.loop(r.seconds, MinSamples)
    val c1 = p.counts
    val query = QueryMetrics(p.queries.drain(), loads.samples)
    p.setTracing(false)
    val layers = Common.layers(r, query, SparkMetrics(c1 - c0, loads.loadSeconds.size), measured(loads), untraced)
    (layers, QueryMetrics.perPanel(c1 - c0, loads.samples.size) :+
      Metric("write.files", Tables.parquetFiles(out.toString).size, "count"))
  }

  /** Records, forensic and both TLS tables against the model. */
  private def checkTables(r: Run, out: Path): Seq[String] = {
    val spark = r.spark
    import spark.implicits._
    val (seed, clock) = (r.seed, r.clock)
    val (n, h) = spark.range(0, Reports, 1, 4 * r.nproc).as[Long].mapPartitions { it =>
      var n, h = 0L
      it.foreach(i => Tables.recordKeys(Gen.aggregate(seed, clock, i, Clock.SpanDays)).foreach { k =>
        n += 1; h += Tables.keyHash(k)
      })
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val months = Iterator.range(0, Reports)
      .map(i => Clock.month(Gen.aggregate(seed, clock, i, Clock.SpanDays, withRecords = false).beginMs)).toSet
    val fs = Vector.tabulate(Forensics)(i => Gen.forensic(seed, clock, i, Clock.SpanDays))
    val ts = Vector.tabulate(Tls)(i => Gen.tls(seed, clock, i, Clock.SpanDays))
    val small = Tables.expectAll(Nil, fs, ts, Clock.month(clock.nowMs))
    Seq(Tables.Records -> TableExpect(n, h, months), Tables.Forensic -> small("forensic"),
      Tables.TlsReports -> small("tls_reports"), Tables.TlsFailures -> small("tls_failures"))
      .flatMap { case (spec, want) => Tables.check(spark, out.resolve(spec.name).toString, spec, want) }
  }
}

/** Query-layer metrics from the query listener and the viewer's samples
  * (errors included, since a failing panel still plans and scans).
  */
object QueryMetrics {
  def apply(stats: Seq[QueryStat], samples: Seq[PanelSample]): Seq[Metric] = {
    val ok = samples.filter(_.result.isSuccess)
    val n = math.max(1, ok.size).toDouble
    val returned = ok.map(_.result.get.size.toLong).sum
    val partitioned = stats.filter(_.partsTotal > 0)
    Seq(
      Metric("query.plan_ms", Stats.mean(stats.map(_.planMs)), "ms"),
      Metric("query.exec_ms", Stats.mean(stats.map(_.execMs)), "ms"),
      Metric("query.slot_wait_ms", Stats.mean(samples.map(_.waitMs)), "ms"),
      Metric("query.files_read_per_panel", stats.map(_.files).sum / n, "count"),
      Metric("query.partitions_read_ratio",
        partitioned.map(_.partsRead).sum.toDouble / math.max(1L, partitioned.map(_.partsTotal).sum), "ratio"),
      Metric("query.rows_scanned_per_row_returned", stats.map(_.scanRows).sum.toDouble / math.max(1L, returned),
        "ratio"))
  }

  /** Jobs and tasks per panel, where the counters saw only panel queries. */
  def perPanel(c: SparkCounts, panels: Int): Seq[Metric] = Seq(
    Metric("query.jobs_per_panel", c.jobs.toDouble / math.max(1, panels), "count"),
    Metric("query.tasks_per_panel", c.tasks.toDouble / math.max(1, panels), "count"))
}
