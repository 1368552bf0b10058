package dmarcbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, ExecutorService, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload did. `failed` counts every failed operation: errors,
  * wrong answers and lost files. `wrong` counts only the outputs that
  * disagree with the model, so a known error such as a panel reading a
  * column its table lacks fails operations without making the run's
  * output incorrect. `failures` names them for the log.
  *
  * `metrics` are the ones every workload reports (the end-to-end set, or
  * the per-layer set in a traced run); `detail` are the workload's own
  * figures, printed on a line of their own before the result.
  */
final case class Outcome(attempted: Long, failed: Long, wrong: Long, metrics: Seq[Metric],
                         failures: Seq[String], context: Seq[(String, String)], detail: Seq[Metric])

/** Everything a workload gets from the command line and the session. */
final case class Run(
    spark: SparkSession, probes: Probes, workload: String, seed: Long, seconds: Double,
    trace: Boolean, inject: String, work: Path, clock: Clock, nproc: Int, sessionBuildS: Double) {
  def log(msg: String): Unit = System.err.println(f"[dmarcbench ${workload}] $msg")
  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }
  /** Remove a directory tree the run wrote. */
  def clean(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secondsSince(t0))
  }
}

/** The metrics every workload reports, each in its own terms: what one
  * operation is (a backfill pass, a panel query, a dropped file) and what
  * it counts per second.
  */
object Common {
  /** Throughput and the p50 and p95 latency of one operation. */
  def measured(perS: Double, latencyMs: Seq[Double]): Seq[Metric] = Seq(
    Metric("throughput_per_s", perS, "1/s"),
    Metric("latency_p50_ms", Stats.median(latencyMs), "ms"),
    Metric("latency_p95_ms", Stats.quantile(latencyMs, 0.95), "ms"))

  /** The per-layer metrics of a traced run: the session, the parsers, the
    * query layer and Spark's runtime, plus the tracing overhead (traced
    * minus untraced `measured` figures).
    */
  def layers(r: Run, query: Seq[Metric], spark: Seq[Metric], traced: Seq[Metric],
             untraced: Seq[Metric]): Seq[Metric] =
    Seq(Metric("session.build_s", r.sessionBuildS, "s")) ++ ParseProbe.run(r) ++ query ++ spark ++
      traced.zip(untraced).map { case (a, b) => Metric(s"trace.overhead.${a.name}", a.value - b.value, a.unit) }
}

/** CPU accounting from /proc, for the run context. */
object Host {
  /** (steal, total) jiffies across all CPUs. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }
  def loadavg(): Double = Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
}

/** A fixed pool for work the benchmark runs beside Spark (viewers, the
  * file dropper); every pool is shut down and awaited before exit.
  */
final class Pool(threads: Int) {
  private val ex: ExecutorService = Executors.newFixedThreadPool(threads)
  def submit[A](body: => A): java.util.concurrent.Future[A] = ex.submit(new Callable[A] { def call(): A = body })
  def close(): Unit = { ex.shutdownNow(); ex.awaitTermination(60, TimeUnit.SECONDS) }
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: dmarcbench.Main --workload backfill|dashboard|live_intake --seed N " +
      "--seconds S --trace 0|1 --work DIR [--inject wrong_answer|withhold_file]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage())
    if (!Set("backfill", "dashboard", "live_intake").contains(workload)) usage()
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).getOrElse(usage())
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", usage())).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()

    val (spark, buildS) = Stats.timed(graft.GraftSession.build("dmarcbench"))
    val run = Run(spark, new Probes(spark, s"$workload-$seed-${if (trace) 1 else 0}"), workload, seed,
      seconds, trace, opts.getOrElse("inject", ""), work, Clock(System.currentTimeMillis()), nproc, buildS)
    val (steal0, total0) = Host.cpuJiffies()
    val out = workload match {
      case "backfill" => Backfill.run(run)
      case "dashboard" => Dashboard.run(run)
      case "live_intake" => LiveIntake.run(run)
    }
    val (steal1, total1) = Host.cpuJiffies()
    if (trace) run.probes.tracer.write(work.resolve(s"trace/${run.probes.tracer.run}.jsonl"))
    out.failures.distinct.foreach(f => run.log(s"failed: $f"))

    val conf = spark.conf
    val context = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> nproc.toString,
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "master" -> s""""${spark.sparkContext.master}"""",
      "steal_pct" -> f"${100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)}%.3f",
      "loadavg_1m" -> f"${Host.loadavg()}%.2f") ++ out.context
    println(context.map { case (k, v) => s""""$k": $v""" }.mkString("""{"context": {""", ", ", "}}"))
    def json(ms: Seq[Metric]): String =
      ms.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""").mkString("{", ", ", "}")
    println(s"""{"detail": ${json(out.detail)}}""")
    println(s"""{"correct": ${out.wrong == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
      s""""metrics": ${json(out.metrics)}}""")
    System.out.flush()
    spark.stop()
  }
}
