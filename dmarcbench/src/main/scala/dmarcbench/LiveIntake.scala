package dmarcbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.streaming.ReportFileIntake
import org.apache.spark.sql.functions.count
import org.apache.spark.sql.streaming.Trigger

/** One file the dropper placed: when it was due and when it landed. */
final case class Drop(report: ModelAggregate, name: String, rung: String, dueMs: Long, landedMs: Long)

/** What one rung of the rate ladder measured: freshness per file, the
  * seconds from its first file's scheduled drop to its last file's commit,
  * the files queued per second of the rung (the backlog at its last drop
  * over its length) and the backlog's peak, and the seconds from the
  * rung's last drop until its queue had drained.
  */
final case class Rung(name: String, rate: Double, freshnessMs: Seq[Double], spanS: Double,
                      backlogGrowth: Double, backlogMax: Long, drainS: Double) {
  def p50: Double = Stats.median(freshnessMs)
  def p95: Double = Stats.quantile(freshnessMs, 0.95)
  /** Sustained: p95 freshness within the limit, and a backlog that does
    * not outgrow it: the queue drains within the limit once drops stop.
    * (A few seconds of backlog samples swing by a batch's worth of files
    * with every trigger, too much to read a growth rate from.)
    */
  def sustained: Boolean = p95 <= LiveIntake.FreshnessLimitMs && drainS * 1000 <= LiveIntake.FreshnessLimitMs
}

/** `live_intake`: an open loop drops report files into the intake's drop
  * directory on a fixed schedule while `ReportFileIntake.appendRecords`
  * runs with a processing-time trigger, and one closed-loop viewer
  * refreshes the overview panels over the live table. One operation is a
  * dropped file, from its scheduled drop to the end of the micro-batch
  * that commits it.
  */
object LiveIntake {
  /** Files per second. The high rung sits under the intake's knee on 4
    * CPUs (about 40 files/s): at the knee its freshness swings between
    * runs of the same code by about the bound the benchmark allows.
    */
  val Ladder: Seq[(String, Double)] = Seq("low" -> 5.0, "mid" -> 20.0, "high" -> 30.0)
  /** Each rung's share of the run's seconds. The low rung needs time for
    * files; the high rung needs several micro-batches, since its p95 is
    * set by the slowest batch. At the high rate batches run back to back
    * and grow with the queue, so its freshness is bimodal across seeds
    * (a 55 % share did not narrow that).
    */
  val Share: Map[String, Double] = Map("low" -> 0.4, "mid" -> 0.15, "high" -> 0.45)
  val RecordsPerReport = 50
  val TriggerMs = 500L
  val FreshnessLimitMs = 5000.0
  val DrainCapS = 30.0

  /** The bytes of a dropped file: raw XML, gzip or the base64 mail the
    * mailbox poller writes, in turn.
    */
  private def fileOf(a: ModelAggregate, i: Int): (String, Array[Byte]) = {
    val xml = Gen.aggregateXml(a).getBytes("UTF-8")
    i % 3 match {
      case 0 => (s"${a.reportId}.xml", xml)
      case 1 => (s"${a.reportId}.xml.gz", Gen.gzip(xml))
      case _ => (s"${a.reportId}.eml", Gen.mail(s"Report-ID: ${a.reportId}", a.beginMs,
        s"${a.reportId}.xml.gz", "application/gzip", Gen.gzip(xml)))
    }
  }

  /** Input file name → the file source's log offset that listed it, from
    * its checkpoint log (compacted entries keep their offset, which the
    * log calls `batchId`; it is not the micro-batch id, since batches
    * that read no files do not advance it).
    */
  private def logOffsetOfFile(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
    }.toMap
  }

  final case class LadderResult(rungs: Seq[Rung], drops: Seq[Drop], panels: Seq[PanelSample],
                                intake: IntakeRecorder, table: Path, lateMsMax: Double,
                                attempted: Long, failed: Long, wrong: Long, failures: Seq[String])

  /** Run the whole ladder once against a fresh drop directory and table. */
  def ladder(r: Run, tag: String, seed: Long, rates: Seq[(String, Double)], rungSeconds: String => Double,
             withhold: Boolean, check: Boolean = true): LadderResult = {
    val spark = r.spark
    val base = r.dir(s"live-$tag")
    val (drop, staging, table, ckpt) =
      (r.dir(s"live-$tag/drop"), r.dir(s"live-$tag/staging"), base.resolve("table"), base.resolve("checkpoint"))
    val intake = new IntakeRecorder
    spark.streams.addListener(intake)
    val query = r.probes.tracer.span("intake.start") {
      ReportFileIntake.appendRecords(spark, drop.toString, table.toString, ckpt.toString,
        trigger = Trigger.ProcessingTime(TriggerMs))
    }
    val stop = new AtomicBoolean(false)
    val viewerPool = new Pool(1)
    // one panel query in flight, so the reads share the CPUs with the
    // intake's batches rather than take them all
    val viewer = new Viewer(r, Panels.overview, _ => None, checked = false, slots = 1)
    // the viewer refreshes over the live table once it has rows; live
    // answers change under it, so they are timed here and checked once
    // the intake has drained
    val viewed = viewerPool.submit {
      val all = Seq.newBuilder[PanelSample]
      while (!stop.get()) {
        if (intake.committedFiles == 0) Thread.sleep(20)
        else {
          spark.read.parquet(table.toString).createOrReplaceTempView("dmarc_aggregate_records")
          all ++= viewer.load()._1
        }
      }
      all.result()
    }

    val drops = Seq.newBuilder[Drop]
    var dropped = 0L
    var index = 0
    var lateMax = 0.0
    val rungs = rates.map { case (name, rate) =>
      val n = math.max(1, (rate * rungSeconds(name)).round.toInt)
      var peak = 0L
      val t0 = System.currentTimeMillis() + 100
      val rungDrops = (0 until n).map { k =>
        val a = Gen.aggregate(seed, r.clock, index, 6.0, fixedRecords = RecordsPerReport)
        val (fname, bytes) = fileOf(a, index)
        index += 1
        val due = t0 + (k * 1000.0 / rate).toLong
        var now = System.currentTimeMillis()
        while (now < due) {
          peak = math.max(peak, dropped - intake.committedFiles)
          Thread.sleep(math.min(50L, due - now))
          now = System.currentTimeMillis()
        }
        val skip = withhold && k == n / 2 && name == rates.head._1
        if (!skip) {
          // write-then-rename, as the mailbox poller lands a message
          val tmp = staging.resolve(fname)
          Files.write(tmp, bytes)
          Files.move(tmp, drop.resolve(fname), StandardCopyOption.ATOMIC_MOVE)
          dropped += 1
        }
        val landed = System.currentTimeMillis()
        lateMax = math.max(lateMax, (landed - due).toDouble)
        Drop(a, fname, name, due, if (skip) -1L else landed)
      }
      drops ++= rungDrops
      val queued = dropped - intake.committedFiles
      val drainStart = System.nanoTime()
      while (intake.committedFiles < dropped && Stats.secondsSince(drainStart) < DrainCapS) {
        peak = math.max(peak, dropped - intake.committedFiles)
        Thread.sleep(20)
      }
      Rung(name, rate, Nil, 0.0, queued / rungSeconds(name), math.max(peak, queued), Stats.secondsSince(drainStart))
    }
    stop.set(true)
    val panels = viewed.get()
    viewerPool.close()
    viewer.close()
    query.stop()
    spark.streams.removeListener(intake)

    // freshness: each file's due time to the end of the batch that read it
    val all = drops.result()
    val offsetOf = logOffsetOfFile(ckpt)
    val batches = intake.dataBatches
    val fresh = all.filter(_.landedMs >= 0).flatMap(d => offsetOf.get(d.name)
      .flatMap(o => batches.find(b => b.fromLog < o && o <= b.toLog))
      .map(b => (d.rung, d.dueMs, b.endMs)))
    val rungsOut = rungs.map { g =>
      val mine = fresh.filter(_._1 == g.name)
      g.copy(freshnessMs = mine.map { case (_, due, end) => (end - due).toDouble },
        spanS = if (mine.isEmpty) 0.0 else (mine.map(_._3).max - mine.map(_._2).min) / 1e3)
    }

    if (!check) return LadderResult(rungsOut, all, panels, intake, table, lateMax, 0, 0, 0, Nil)

    // exactly once: every due file's rows, once each, and nothing else
    val stored = spark.read.parquet(table.toString).groupBy("report_id").agg(count("*").as("n"))
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    val lost = all.count(d => !stored.get(d.report.reportId).contains(RecordsPerReport.toLong))
    val extra = (stored.keySet -- all.map(_.report.reportId)).size
    val failures = Seq.newBuilder[String]
    if (lost > 0) failures += s"$tag: $lost dropped files not committed exactly once"
    if (extra > 0) failures += s"$tag: $extra unexpected reports in the live table"

    // the overview panels over the drained table against the model
    spark.read.parquet(table.toString).createOrReplaceTempView("dmarc_aggregate_records")
    val want = Panels.expectOverview(all.iterator.map(_.report), r.clock, enriched = false)
    val checker = new Viewer(r, Panels.overview, want.get)
    checker.load()
    checker.close()
    LadderResult(rungsOut, all, panels, intake, table, lateMax,
      attempted = all.size + viewer.attempted + checker.attempted,
      failed = lost + extra + viewer.failed + checker.failed,
      wrong = lost + extra + checker.wrong,
      failures = failures.result() ++ viewer.failures.result() ++ checker.failures.result())
  }

  def run(r: Run): Outcome = {
    val t0 = System.nanoTime()
    // warm-up on a separate seed: four seconds at the high rate
    val warmSeed = r.seed + 1000003L
    ladder(r, "warm", warmSeed, Seq("warm" -> Ladder(2)._2), _ => 4.0, withhold = false, check = false)
    val setupS = r.sessionBuildS + Stats.secondsSince(t0)
    r.log(f"setup ${setupS}%.2f s")

    val rungSeconds = (name: String) => r.seconds * Share(name)
    val res = ladder(r, "main", r.seed, Ladder, rungSeconds, r.inject == "withhold_file")
    res.rungs.foreach(g => r.log(f"${g.name}: ${g.freshnessMs.size} files, p50 ${g.p50}%.0f ms, " +
      f"p95 ${g.p95}%.0f ms, backlog +${g.backlogGrowth}%.1f files/s, peak ${g.backlogMax}, drained in ${g.drainS}%.2f s"))
    val base = measured(res)
    val by = res.rungs.map(g => g.name -> g).toMap
    val detail = Seq(
      Metric("freshness_p50_ms.low", by("low").p50, "ms"),
      Metric("freshness_p95_ms.low", by("low").p95, "ms"),
      Metric("freshness_p50_ms.high", by("high").p50, "ms"),
      Metric("freshness_p95_ms.high", by("high").p95, "ms"),
      Metric("max_sustained_files_per_s", res.rungs.filter(_.sustained).map(_.rate).maxOption.getOrElse(0.0),
        "files/s"),
      Metric("live_panel_p50_ms", Stats.median(res.panels.filter(_.result.isSuccess).map(_.ms)), "ms"))
    val (metrics, traceDetail) =
      if (!r.trace) (Metric("setup_s", setupS, "s") +: base, Nil)
      else {
        r.probes.setTracing(true)
        r.probes.queries.drain()
        val c0 = r.probes.counts
        val t = ladder(r, "traced", r.seed, Ladder, rungSeconds, withhold = false)
        val c1 = r.probes.counts
        val query = QueryMetrics(r.probes.queries.drain(), t.panels)
        r.probes.setTracing(false)
        (Common.layers(r, query, SparkMetrics(c1 - c0, 1), measured(t), base), intakeMetrics(t))
      }
    Outcome(res.attempted, res.failed, res.wrong, metrics, res.failures,
      Seq("warmup_seed" -> warmSeed.toString, "warmup_ladder_before_timing" -> "true",
        "files_dropped" -> res.drops.size.toString, "live_panel_samples" -> res.panels.size.toString),
      detail ++ traceDetail)
  }

  /** Files committed per second of the rungs (each from its first file's
    * scheduled drop to its last file's commit), and every file's freshness
    * over all rungs.
    */
  private def measured(x: LadderResult): Seq[Metric] = {
    val fresh = x.rungs.flatMap(_.freshnessMs)
    Common.measured(fresh.size / x.rungs.map(_.spanS).sum, fresh)
  }

  private def intakeMetrics(x: LadderResult): Seq[Metric] = {
    val bs = x.intake.dataBatches
    def dur(k: String) = Stats.mean(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    val gaps = bs.sliding(2).collect { case Seq(a, b) => (b.startMs - a.endMs).toDouble }.toSeq
    val high = x.rungs.find(_.name == "high").get
    Seq(
      Metric("intake.batches", bs.size, "count"),
      Metric("intake.files_per_batch", Stats.mean(bs.map(_.files.toDouble)), "count"),
      Metric("intake.batch_ms.latestOffset", dur("latestOffset"), "ms"),
      Metric("intake.batch_ms.getBatch", dur("getBatch"), "ms"),
      Metric("intake.batch_ms.queryPlanning", dur("queryPlanning"), "ms"),
      Metric("intake.batch_ms.addBatch", dur("addBatch"), "ms"),
      Metric("intake.batch_ms.walCommit", dur("walCommit"), "ms"),
      Metric("intake.batch_ms.commitOffsets", dur("commitOffsets"), "ms"),
      Metric("intake.trigger_wait_ms", Stats.mean(gaps), "ms"),
      Metric("intake.backlog_files_max", x.rungs.map(_.backlogMax).max, "count"),
      Metric("intake.backlog_growth_files_per_s", high.backlogGrowth, "files/s"),
      Metric("intake.state_rows", bs.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count"),
      Metric("intake.state_mb", bs.map(_.stateBytes).maxOption.getOrElse(0L) / 1e6, "MB"),
      Metric("intake.output_files", Tables.parquetFiles(x.table.toString).size, "count"),
      Metric("gen.late_ms_max", x.lateMsMax, "ms"))
  }
}
