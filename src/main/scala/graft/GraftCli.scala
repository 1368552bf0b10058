package graft

import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.sources._

/** The reference's command-line entry point, re-expressed
  * (cmd/parsedmarc-go/main.go:1-330).
  *
  * Same surface: `-config` / `-input` / `-output` / `-format json|csv`
  * / `-version` / `-daemon`, Go `flag`-package argument grammar
  * (`-name value`, `-name=value`, `--name`, bare `-daemon` booleans,
  * exit 2 + usage on an unknown flag).
  *
  * Single-input mode (main.go:parseFileWithCustomOutput): a file or a
  * directory (lexical order, subdirectories skipped) runs each payload
  * through the shared aggregate→forensic→smtp_tls parser chain
  * ([[graft.sources.ParsedReport.parseAny]], main.go:parseAndWriteOutput)
  * and writes the reference's exact output bytes
  * ([[graft.sources.ReportJson]]): stream JSON/CSV to
  * stdout or an append-file, or per-report files in directory mode
  * (output.go DirectoryJSONWriter/DirectoryCSVWriter filenames).
  * A file that parses as no family logs a warning and processing
  * continues, like the reference.
  *
  * Daemon mode (main.go:runDaemon): HTTP intake server + IMAP poll
  * loop + storage, composed from the protocol-true twins
  * ([[graft.sources.HttpIntake]], [[graft.sources.ImapIntake]],
  * [[graft.sources.ClickHouseHttp]]) and returned as a [[Daemon]]
  * handle so tests (and callers) stop it deterministically instead of
  * waiting on SIGTERM.
  *
  * Scale split, same as every intake in this repo: the CLI loop is
  * porcelain over pure per-payload functions — the identical parse and
  * serialize code runs executor-side when the ingest is a distributed
  * `binaryFile` scan (DmarcReader / o_cli_json's registry entry), so
  * "the CLI" and "the 100 TB batch job" cannot drift apart.
  */
object GraftCli {

  val Version = "1.0.0"

  final case class CliOptions(
      config: String = "config.yaml",
      input: String = "",
      output: String = "",
      format: String = "json",
      version: Boolean = false,
      daemon: Boolean = false)

  private val BoolFlags = Set("version", "daemon")
  private val ValueFlags = Set("config", "input", "output", "format")

  /** parseFlags' Left sentinel for -h/-help (Go flag's ErrHelp). */
  val HelpRequested = "help requested"

  /** Go flag-package grammar: `-f v`, `-f=v`, `--f`; booleans take no
    * operand unless `=` bound; first non-flag argument ends parsing.
    */
  def parseFlags(args: Seq[String]): Either[String, CliOptions] = {
    var opts = CliOptions()
    def set(name: String, value: String): Either[String, Unit] = name match {
      case "config"  => opts = opts.copy(config = value); Right(())
      case "input"   => opts = opts.copy(input = value); Right(())
      case "output"  => opts = opts.copy(output = value); Right(())
      case "format"  => opts = opts.copy(format = value); Right(())
      case "version" => parseBool(value).map(v => opts = opts.copy(version = v))
      case "daemon"  => parseBool(value).map(v => opts = opts.copy(daemon = v))
      case other     => Left(s"flag provided but not defined: -$other")
    }
    def parseBool(v: String): Either[String, Boolean] = v.toLowerCase match {
      case "true" | "1" | "t"  => Right(true)
      case "false" | "0" | "f" => Right(false)
      case other               => Left(s"invalid boolean value \"$other\"")
    }
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("-") || a == "-") return Right(opts) // first operand stops flag parsing
      if (a == "--") return Right(opts)
      val body = if (a.startsWith("--")) a.drop(2) else a.drop(1)
      val eq = body.indexOf('=')
      val (name, inlineValue) =
        if (eq >= 0) (body.take(eq), Some(body.drop(eq + 1))) else (body, None)
      // Go flag: undefined -h/-help is ErrHelp — usage then exit 0,
      // not the exit-2 undefined-flag path
      if (name == "h" || name == "help") return Left(HelpRequested)
      if (!BoolFlags(name) && !ValueFlags(name))
        return Left(s"flag provided but not defined: -$name")
      val value = inlineValue match {
        case Some(v) => v
        case None if BoolFlags(name) => "true"
        case None =>
          if (i + 1 >= args.length) return Left(s"flag needs an argument: -$name")
          i += 1
          args(i)
      }
      set(name, value) match {
        case Left(err) => return Left(err)
        case Right(()) => ()
      }
      i += 1
    }
    Right(opts)
  }

  // ------------------------------------------------------ sinks
  /** output.Writer twin: one sink per (destination, format). */
  sealed trait ReportSink extends AutoCloseable {
    def write(p: ParsedReport): Unit
    override def close(): Unit = ()
  }

  // ------------------------------------------------------ senders
  /** The side channels output.go wires into every writer (SMTPSender /
    * KafkaSender, output.go:35-46): after each successful main-sink
    * write, the report also goes out via SMTP and/or Kafka when
    * configured (main.go:104-113 builds them from cfg in single-file
    * mode). Sender failures log and continue — the reference treats
    * them as non-fatal (output.go logs `Failed to send … via SMTP`).
    */
  trait ReportSender extends AutoCloseable {
    def send(p: ParsedReport): Unit
    override def close(): Unit = ()
  }

  /** kafka.go's producer: `json.Marshal(report)` (the compact document
    * — ReportJson's *Compact twins) to the per-family topic, keyed
    * report-id / "messageId-unixArrival" / report-id (kafka.go:46,78,
    * 115), over the real wire protocol ([[KafkaWire.produce]]). Empty
    * topic skips that family, like the reference. Deliberate delta:
    * the record timestamp is 0 rather than time.Now(), keeping CLI
    * runs replay-identical.
    */
  final class KafkaReportSender(settings: KafkaSettings) extends ReportSender {
    private val (host, port) = {
      val hp = settings.hosts.head.split(":")
      (hp(0), if (hp.length > 1) hp(1).toInt else 9092)
    }
    private def produce(topic: String, key: String, value: String): Unit = {
      KafkaWire.produce(host, port, topic,
        Seq((key.getBytes("UTF-8"), value.getBytes("UTF-8"))))
      ()
    }
    def send(p: ParsedReport): Unit = p match {
      case ParsedAggregate(r) if settings.aggregateTopic.nonEmpty =>
        produce(settings.aggregateTopic, r.reportId, ReportJson.aggregateCompact(r))
      case ParsedForensic(r) if settings.forensicTopic.nonEmpty =>
        produce(settings.forensicTopic,
          s"${r.messageId}-${r.arrivalDate.toInstant.getEpochSecond}",
          ReportJson.forensicCompact(r))
      case ParsedTls(r) if settings.smtpTlsTopic.nonEmpty =>
        produce(settings.smtpTlsTopic, r.reportId, ReportJson.smtpTlsCompact(r))
      case _ => ()
    }
  }

  /** smtp.go's sender, routed through the library's pinned MIME
    * formatter instead of a duplicate: reports buffer per family and
    * flush at close through EmailOutput's projections + SMTP client —
    * the exact bytes o_email_mime hash-gates, delivered over the real
    * SMTP dialogue. The SparkSession materializes lazily, only when a
    * report actually buffered (CLI runs without SMTP never touch
    * Spark).
    */
  final class SmtpReportSender(cfg: graft.sources.SmtpConfig,
                               session: () => org.apache.spark.sql.SparkSession,
                               sentAt: java.sql.Timestamp) extends ReportSender {
    private val aggs = scala.collection.mutable.ArrayBuffer.empty[AggregateReport]
    private val forensics = scala.collection.mutable.ArrayBuffer.empty[ForensicReport]
    private val tls = scala.collection.mutable.ArrayBuffer.empty[TlsReport]
    def send(p: ParsedReport): Unit = p match {
      case ParsedAggregate(r) => aggs += r
      case ParsedForensic(r)  => forensics += r
      case ParsedTls(r)       => tls += r
    }
    override def close(): Unit =
      if (aggs.nonEmpty || forensics.nonEmpty || tls.nonEmpty) {
        val s = session()
        import s.implicits._
        if (aggs.nonEmpty)
          EmailOutput.send(EmailOutput.aggregateEmails(
            s.createDataset(aggs.toSeq), cfg, sentAt), cfg)
        if (forensics.nonEmpty)
          EmailOutput.send(EmailOutput.forensicEmails(
            s.createDataset(forensics.toSeq), cfg, sentAt), cfg)
        if (tls.nonEmpty)
          EmailOutput.send(EmailOutput.tlsEmails(
            s.createDataset(tls.toSeq), cfg, sentAt), cfg)
      }
  }

  /** Decorator attaching the configured senders to a main sink
    * (output.go's writers call their senders after each write).
    */
  final class SendingSink(inner: ReportSink, senders: Seq[ReportSender],
                          err: PrintStream) extends ReportSink {
    def write(p: ParsedReport): Unit = {
      inner.write(p)
      senders.foreach { sn =>
        try sn.send(p)
        catch { case NonFatal(e) => err.println(s"warn: failed to send report: ${e.getMessage}") }
      }
    }
    override def close(): Unit = {
      senders.foreach { sn =>
        try sn.close()
        catch { case NonFatal(e) => err.println(s"warn: failed to send report: ${e.getMessage}") }
      }
      inner.close()
    }
  }

  /** Stream JSON (output.go JSONWriter): the indented document plus a
    * trailing newline, appended per report.
    */
  final class StreamJsonSink(out: Appendable) extends ReportSink {
    def write(p: ParsedReport): Unit = {
      out.append(ReportJson.renderDocument(p, "json")).append('\n')
      ()
    }
  }

  /** Stream CSV (output.go CSVWriter): per-family header emitted
    * before that family's first row, rows appended in arrival order.
    */
  final class StreamCsvSink(out: Appendable) extends ReportSink {
    private val headersWritten = scala.collection.mutable.Set.empty[String]
    private def emit(family: String, header: Seq[String], rows: Seq[Seq[String]]): Unit = {
      if (!headersWritten(family)) {
        out.append(ReportJson.csvLine(header))
        headersWritten += family
      }
      rows.foreach(r => out.append(ReportJson.csvLine(r)))
    }
    def write(p: ParsedReport): Unit = p match {
      case ParsedAggregate(r) =>
        emit("aggregate", ReportJson.AggregateCsvHeader, ReportJson.aggregateCsvRows(r))
      case ParsedForensic(r) =>
        emit("forensic", ReportJson.ForensicCsvHeader, Seq(ReportJson.forensicCsvRow(r)))
      case ParsedTls(r) =>
        emit("smtp_tls", ReportJson.TlsCsvHeader, ReportJson.tlsCsvRows(r))
    }
  }

  /** Directory mode (output.go DirectoryJSONWriter/DirectoryCSVWriter):
    * one file per report, reference filenames; CSV files carry their
    * own header (the per-file layouts of output.go:616-700 match the
    * stream layouts for aggregate, and the slightly shorter
    * forensic/TLS directory layouts are the same columns this repo
    * emits — both are regenerated from the same row builders).
    */
  final class DirectorySink(dir: Path, format: String) extends ReportSink {
    Files.createDirectories(dir)
    def write(p: ParsedReport): Unit = {
      val name = p match {
        case ParsedAggregate(r) =>
          ReportJson.directoryFilename("aggregate", r.reportId, r.beginDate, format)
        case ParsedForensic(r) =>
          ReportJson.directoryFilename(
            "forensic", ReportJson.forensicFileId(r.messageId), r.arrivalDate, format)
        case ParsedTls(r) =>
          ReportJson.directoryFilename("smtp_tls", r.reportId, r.beginDate, format)
      }
      Files.write(dir.resolve(name), ReportJson.renderDocument(p, format).getBytes("UTF-8"))
      ()
    }
  }

  private final class FileAppendSink(path: Path, inner: Appendable => ReportSink)
      extends ReportSink {
    private val writer = Files.newBufferedWriter(path,
      java.nio.charset.StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    private val sink = inner(writer)
    def write(p: ParsedReport): Unit = sink.write(p)
    override def close(): Unit = writer.close()
  }

  /** NewWriter's destination logic (output.go:58-127): "" → stdout;
    * existing directory → per-report files; otherwise append-file.
    */
  def newSink(output: String, format: String, stdout: Appendable): ReportSink = {
    def stream(out: Appendable): ReportSink =
      if (format == "json") new StreamJsonSink(out) else new StreamCsvSink(out)
    if (output.isEmpty) stream(stdout)
    else {
      val p = Paths.get(output)
      if (Files.isDirectory(p)) new DirectorySink(p, format)
      else new FileAppendSink(p, stream)
    }
  }

  // ------------------------------------------------------ input mode
  /** Parse one file or every regular file of a directory (lexical
    * order — Go os.ReadDir sorts), continuing past per-file failures.
    * Returns (processed, failed).
    */
  def processInput(input: Path, sink: ReportSink, err: PrintStream): (Int, Int) = {
    val files: Seq[Path] =
      if (Files.isDirectory(input)) {
        val stream = Files.list(input) // close: the stream holds a directory fd
        try stream.iterator().asScala.filter(Files.isRegularFile(_))
          .toSeq.sortBy(_.getFileName.toString)
        finally stream.close()
      } else Seq(input)
    var ok = 0
    var failed = 0
    files.foreach { f =>
      // read + parse both inside the guard: an unreadable file
      // (permissions, transient IO) must warn-and-continue exactly
      // like an unparseable one (main.go:283-287)
      val result =
        try ParsedReport.parseAny(Files.readAllBytes(f)).left.map(reasons =>
          s"unable to parse data as any supported report type. Details: $reasons")
        catch { case NonFatal(e) => Left(e.toString) }
      result match {
        case Right(parsed) => sink.write(parsed); ok += 1
        case Left(reason) =>
          err.println(s"warn: failed to process file $f: $reason")
          failed += 1
      }
    }
    (ok, failed)
  }

  // ------------------------------------------------------ daemon mode
  /** A running daemon (main.go:runDaemon): HTTP intake + IMAP poll +
    * storage, stopped via [[stop]] instead of SIGTERM so tests drive
    * the full lifecycle. Polling runs on one thread (the reference's
    * single IMAP goroutine); each poll's fetched messages drop into
    * `dropDir`, the directory the HTTP intake and the streaming
    * pipeline (st_report_intake) already share.
    */
  final class Daemon(
      val http: Option[HttpIntake],
      imapThread: Option[Thread],
      stopLatch: CountDownLatch,
      val dropDir: String) extends AutoCloseable {
    @volatile private[GraftCli] var imapErrors: Int = 0
    @volatile private[GraftCli] var imapPolls: Int = 0
    def httpPort: Option[Int] = http.map(_.port)
    def pollCount: Int = imapPolls
    def errorCount: Int = imapErrors
    def stop(): Unit = {
      stopLatch.countDown()
      imapThread.foreach(_.join(10000))
      http.foreach(_.close())
    }
    override def close(): Unit = stop()
  }

  /** Start daemon services per config (main.go:runDaemon:148-205):
    * HTTP server when enabled, an IMAP poll loop when enabled
    * (connect → process → disconnect → sleep checkInterval, errors
    * logged and retried, never fatal).
    */
  def startDaemon(cfg: GraftConfig, dropDir: String,
                  summary: () => String = () => "{}",
                  err: PrintStream = System.err): Daemon = {
    val http =
      if (cfg.http.enabled) Some(new HttpIntake(cfg.http.toHttpConfig, dropDir, summary))
      else None
    val stopLatch = new CountDownLatch(1)
    var daemon: Daemon = null
    val imapThread =
      if (!cfg.imap.enabled) None
      else {
        val t = new Thread(() => {
          var stopped = false
          while (!stopped) {
            try {
              val fetched = ImapIntake.pullMessages(cfg.imap.toImapConfig)
              fetched.foreach { m =>
                // content-addressed name: redelivery across polls (an
                // archive failure, a shared mailbox) dedups on disk
                val digest = java.security.MessageDigest.getInstance("SHA-256")
                  .digest(m.rfc822).take(12).map("%02x".format(_)).mkString
                Files.write(Paths.get(dropDir, s"imap_$digest.eml"), m.rfc822)
              }
              // count AFTER the drop writes: pollCount==n means the
              // n-th poll's files are on disk (waiters key off it)
              daemon.imapPolls += 1
            } catch {
              case NonFatal(e) =>
                daemon.imapErrors += 1
                err.println(s"warn: IMAP poll failed: ${e.getMessage}")
            }
            // interruptible sleep: checkInterval or until stop()
            stopped = stopLatch.await(cfg.imap.checkIntervalSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
          }
        }, "graft-imap-poll")
        t.setDaemon(true)
        Some(t)
      }
    daemon = new Daemon(http, imapThread, stopLatch, dropDir)
    imapThread.foreach(_.start())
    daemon
  }

  // ------------------------------------------------------ entry
  def usage(err: PrintStream): Unit = {
    err.println("Usage of graft:")
    err.println("  -config string\n    \tConfig file path (default \"config.yaml\")")
    err.println("  -daemon\n    \tRun as daemon (enables IMAP and HTTP)")
    err.println("  -format string\n    \tOutput format: json, csv (default \"json\")")
    err.println("  -input string\n    \tInput file or directory to parse")
    err.println("  -output string\n    \tOutput file (default: stdout)")
    err.println("  -version\n    \tShow version information")
  }

  /** The full CLI contract; returns the process exit code. `block`
    * false keeps daemon mode non-blocking and hands the caller the
    * handle via `onDaemon` (tests; `main` blocks forever like the
    * reference).
    */
  def run(args: Array[String], out: PrintStream, err: PrintStream,
          block: Boolean = true, onDaemon: Daemon => Unit = _ => ()): Int = {
    parseFlags(args.toSeq) match {
      case Left(HelpRequested) =>
        usage(err) // Go flag's ErrHelp: usage, exit 0
        0
      case Left(msg) =>
        err.println(msg)
        usage(err)
        2
      case Right(opts) =>
        if (opts.version) {
          out.println(s"graft version $Version")
          return 0
        }
        if (opts.input.nonEmpty && !opts.daemon) {
          val format = opts.format.toLowerCase
          if (format != "json" && format != "csv") {
            err.println(s"Invalid output format: ${opts.format}")
            return 1
          }
          val input = Paths.get(opts.input)
          if (!Files.exists(input)) {
            err.println(s"failed to stat input: $input: no such file or directory")
            return 1
          }
          // main.go:104-113: SMTP/Kafka senders ride along in
          // single-file mode when the config enables them
          val cfg = ConfigLoader.load(opts.config)
          val senders = Seq.newBuilder[ReportSender]
          if (cfg.smtp.enabled)
            senders += new SmtpReportSender(cfg.smtp,
              () => GraftSession.build("graft-cli"),
              new java.sql.Timestamp(System.currentTimeMillis()))
          if (cfg.kafka.enabled && cfg.kafka.hosts.nonEmpty)
            senders += new KafkaReportSender(cfg.kafka)
          val mainSink = newSink(opts.output, format, out)
          val built = senders.result()
          val sink = if (built.isEmpty) mainSink else new SendingSink(mainSink, built, err)
          try {
            val (_, failures) = processInput(input, sink, err)
            // the reference exits 0 unless the TOP-LEVEL file fails:
            // directory scans continue past bad files (main.go:283-287)
            if (!Files.isDirectory(input) && failures > 0) 1 else 0
          } finally sink.close()
        } else {
          val cfg = ConfigLoader.load(opts.config)
          if (opts.daemon || cfg.imap.enabled || cfg.http.enabled) {
            val dropDir = Files.createTempDirectory("graft-intake").toString
            val daemon = startDaemon(cfg, dropDir, err = err)
            onDaemon(daemon)
            if (block) new CountDownLatch(1).await() // SIGTERM wait (main.go:207-211)
            0
          } else {
            out.println("No input file specified and daemon mode disabled")
            out.println("Use -input flag for single file processing or -daemon flag for continuous processing")
            0
          }
        }
    }
  }

  def main(args: Array[String]): Unit =
    sys.exit(run(args, System.out, System.err))
}
