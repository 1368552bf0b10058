package dmarcbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import graft.sources._

/** The run's clock and the panel edges every generated date keeps clear
  * of. The panel SQL compares against `current_timestamp()` (7- and
  * 30-day windows) and `current_date()`, so a date at least an hour from
  * each edge gives the same answer for the whole run.
  */
final case class Clock(nowMs: Long) {
  import Clock._
  val todayStartMs: Long = Math.floorDiv(nowMs, DayMs) * DayMs
  val weekEdgeMs: Long = nowMs - 7 * DayMs
  val monthEdgeMs: Long = nowMs - 30 * DayMs
  private val edges = Seq(weekEdgeMs, monthEdgeMs, todayStartMs, nowMs)

  def clear(t: Long): Boolean =
    t <= nowMs - HourMs && edges.forall(e => math.abs(t - e) >= HourMs)

  /** Step a candidate back two hours at a time until it clears every edge;
    * whole seconds, as the report formats carry them.
    */
  def place(t0: Long): Long = {
    var t = t0 - Math.floorMod(t0, 1000L)
    while (!clear(t)) t -= 2 * HourMs
    t
  }

  /** A date `back` days (fractional) before now, off every edge. */
  def daysAgo(back: Double): Long = place(nowMs - (back * DayMs).toLong)
}

object Clock {
  val HourMs = 3600000L
  val DayMs = 24 * HourMs
  /** 13 months of history. */
  val SpanDays = 395
  def month(ms: Long): String =
    DateTimeFormatter.ofPattern("yyyyMM").withZone(ZoneOffset.UTC).format(Instant.ofEpochMilli(ms))
  def day(ms: Long): String =
    DateTimeFormatter.ISO_LOCAL_DATE.withZone(ZoneOffset.UTC).format(Instant.ofEpochMilli(ms))
}

/** One generated aggregate record, in the model's own terms. */
final case class ModelRecord(
    ip: String, count: Int, disposition: String, dkimEval: String, spfEval: String,
    headerFrom: String, envelopeFrom: String, dkimDomain: String, dkimResult: String,
    spfDomain: String, spfResult: String, reason: Option[String]) {
  def aligned: Boolean = dkimEval.equalsIgnoreCase("pass") || spfEval.equalsIgnoreCase("pass")
}

final case class ModelAggregate(
    reportId: String, org: String, email: String, beginMs: Long, domain: String,
    p: String, records: Vector[ModelRecord]) {
  def endMs: Long = beginMs + Clock.DayMs - 1000L
}

final case class ModelForensic(
    messageId: String, arrivalMs: Long, ip: String, reportedDomain: String,
    deliveryResult: String, authFailure: Vector[String], mailFrom: String)

final case class ModelTlsFailure(resultType: String, sendingIp: String, receivingIp: String, failed: Long)
final case class ModelTlsPolicy(domain: String, ok: Long, failed: Long, failures: Vector[ModelTlsFailure])
final case class ModelTls(org: String, reportId: String, beginMs: Long, policies: Vector[ModelTlsPolicy])

/** The seeded generator. Every report is a pure function of (seed, kind,
  * index), so executors and the driver derive the same report without
  * shipping it, and the expected rows come from this model rather than
  * from the parsers under test.
  */
object Gen {
  import Clock.DayMs

  val Orgs: Vector[(String, String)] = Vector(
    "google.com" -> "noreply-dmarc-support@google.com", "Yahoo" -> "dmarchelp@yahoo.com",
    "Microsoft" -> "dmarcreport@microsoft.com", "mail.ru" -> "dmarc@corp.mail.ru",
    "Comcast" -> "dmarc@comcast.net", "Fastmail" -> "dmarc@fastmail.com",
    "Zoho" -> "dmarc@zoho.com", "Proton" -> "dmarc@proton.me",
    "GMX" -> "dmarc@gmx.net", "Yandex" -> "dmarc@yandex.ru",
    "Apple" -> "dmarc@icloud.com", "Orange" -> "dmarc@orange.fr")
  val Domains: Vector[String] = Vector(
    "example.com", "example.org", "shop.example", "news.example",
    "mail.example", "corp.example", "bank.example", "travel.example")
  val Dispositions: Vector[String] = Vector("none", "none", "none", "quarantine", "reject")
  val DeliveryResults: Vector[String] = Vector("delivered", "spam", "policy", "reject", "other")
  val FailureTypes: Vector[String] = Vector(
    "starttls-not-supported", "certificate-expired", "certificate-host-mismatch",
    "validation-failure", "sts-policy-fetch-error", "tlsa-invalid")

  /** First octets: every GeoEnrichment fixture octet, plus three it does
    * not map (those enrich to "Unknown").
    */
  val Octets: Vector[Int] =
    (graft.functions.GeoEnrichment.Fixture.map(_._1) ++ Seq(5, 200, 234)).distinct.toVector
  val IpPool = 3000

  def ip(idx: Int): String = {
    val o1 = Octets(idx % Octets.size)
    val r = idx / Octets.size
    s"$o1.${(r * 37 + 11) % 256}.${(r / 7) % 256}.${(idx * 13 + 1) % 254 + 1}"
  }

  /** The country and reverse DNS the fixture enrichment gives an IP,
    * computed from the fixture table, not from the enrichment code.
    */
  private val geo: Map[Int, (String, String)] =
    graft.functions.GeoEnrichment.Fixture.map { case (o, c, z) => o -> (c, z) }.toMap
  def country(ip: String): String =
    ip.takeWhile(_ != '.').toIntOption.flatMap(geo.get).map(_._1).getOrElse("Unknown")
  def reverseDns(ip: String): String =
    ip.takeWhile(_ != '.').toIntOption.flatMap(geo.get)
      .map { case (_, z) => s"host-${ip.replace('.', '-')}.$z" }.getOrElse("")

  private def rng(seed: Long, kind: Int, i: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + kind * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 31)) * 0xBF58476D1CE4E5B9L
    new SplittableRandom(z ^ (z >>> 29))
  }

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  /** Records per report: mostly 1-5, one in 50 has 20-100 and one in
    * 1000 has 1000-3000. The heavy slots sit at fixed indices so the
    * total record count barely moves with the seed.
    */
  def recordCount(r: SplittableRandom, i: Long): Int =
    if (i % 1000 == 7) 1000 + (((i / 1000) % 5) * 500).toInt
    else if (i % 50 == 3) 20 + r.nextInt(81)
    else 1 + r.nextInt(5)

  /** Skewed pick from the IP pool: low indices are far more popular. */
  private def poolIp(r: SplittableRandom): String = {
    val u = r.nextDouble()
    ip((u * u * u * IpPool).toInt)
  }

  private def record(r: SplittableRandom, domain: String, upperPass: Boolean): ModelRecord = {
    val dkimPass = r.nextInt(100) < 70
    val spfPass = r.nextInt(100) < 60
    def eval(pass: Boolean) = if (!pass) "fail" else if (upperPass) "PASS" else "pass"
    ModelRecord(
      ip = poolIp(r), count = 1 + (math.pow(r.nextDouble(), 3) * 200).toInt,
      disposition = if (dkimPass || spfPass) "none" else pick(r, Dispositions),
      dkimEval = eval(dkimPass), spfEval = eval(spfPass),
      headerFrom = domain, envelopeFrom = domain,
      dkimDomain = domain, dkimResult = if (dkimPass) "pass" else "fail",
      spfDomain = domain, spfResult = if (spfPass) "pass" else "softfail",
      reason = if (r.nextInt(20) == 0) Some("forwarded") else None)
  }

  /** Aggregate report `i`: begin date `ageDays` back at most, records
    * from `recordCount` unless `fixedRecords` is given. Without records
    * it is the report's header alone, for callers that only need dates.
    */
  def aggregate(seed: Long, clock: Clock, i: Long, ageDays: Double,
                fixedRecords: Int = 0, withRecords: Boolean = true): ModelAggregate = {
    val r = rng(seed, 1, i)
    val (org, email) = pick(r, Orgs)
    val domain = pick(r, Domains)
    val begin = clock.daysAgo(r.nextDouble() * ageDays + 0.05)
    val p = pick(r, Vector("none", "quarantine", "reject"))
    val n = if (fixedRecords > 0) fixedRecords else recordCount(r, i)
    val upperPass = r.nextInt(100) == 0
    ModelAggregate(s"agg-$seed-$i", org, email, begin, domain, p,
      if (withRecords) Vector.fill(n)(record(r, domain, upperPass)) else Vector.empty)
  }

  def forensic(seed: Long, clock: Clock, i: Long, ageDays: Double): ModelForensic = {
    val r = rng(seed, 2, i)
    val domain = pick(r, Domains)
    val fails = Vector("dkim", "spf", "dmarc").filter(_ => r.nextBoolean())
    ModelForensic(
      messageId = s"<arf-$seed-$i@reports.example>",
      arrivalMs = clock.daysAgo(r.nextDouble() * ageDays + 0.05),
      ip = poolIp(r), reportedDomain = domain,
      deliveryResult = pick(r, DeliveryResults),
      authFailure = if (fails.isEmpty) Vector("dmarc") else fails,
      mailFrom = s"user${r.nextInt(50)}@$domain")
  }

  def tls(seed: Long, clock: Clock, i: Long, ageDays: Double): ModelTls = {
    val r = rng(seed, 3, i)
    val (org, _) = pick(r, Orgs)
    val begin = clock.daysAgo(r.nextDouble() * ageDays + 0.05)
    val policies = Vector.fill(1 + r.nextInt(2)) {
      val fails = Vector.fill(r.nextInt(3)) {
        ModelTlsFailure(pick(r, FailureTypes), poolIp(r), poolIp(r), 1L + r.nextInt(50))
      }
      ModelTlsPolicy(pick(r, Domains), 1L + r.nextInt(5000), fails.map(_.failed).sum, fails)
    }
    ModelTls(org, s"tls-$seed-$i", begin, policies)
  }

  // ------------------------------------------------------------ rows

  /** The `dmarc_aggregate_records` rows of a report, before enrichment
    * (the offline source defaults the parser emits).
    */
  def recordRows(a: ModelAggregate): Seq[AggregateRecordRow] = a.records.map { m =>
    AggregateRecordRow(
      report_id = a.reportId, org_name = a.org, source_ip_address = m.ip,
      source_country = "Unknown", source_reverse_dns = "", source_base_domain = "",
      source_name = "", source_type = "Unknown", count = m.count,
      spf_aligned = m.spfEval.equalsIgnoreCase("pass"),
      dkim_aligned = m.dkimEval.equalsIgnoreCase("pass"), dmarc_aligned = m.aligned,
      disposition = m.disposition,
      policy_override_reasons = m.reason.toSeq, policy_override_comments = m.reason.map(_ => "none").toSeq,
      envelope_from = Some(m.envelopeFrom), header_from = m.headerFrom, envelope_to = None,
      dkim_domains = Seq(m.dkimDomain), dkim_selectors = Seq("s1"), dkim_results = Seq(m.dkimResult),
      spf_domains = Seq(m.spfDomain), spf_scopes = Seq("mfrom"), spf_results = Seq(m.spfResult),
      begin_date = new Timestamp(a.beginMs))
  }

  def forensicReport(f: ModelForensic): ForensicReport = ForensicReport(
    feedbackType = "auth-failure", userAgent = Some("dmarcbench/1.0"), version = Some("1"),
    originalEnvelopeId = None, originalMailFrom = Some(f.mailFrom), originalRcptTo = None,
    arrivalDate = new Timestamp(f.arrivalMs), subject = s"Authentication failure for ${f.reportedDomain}",
    messageId = f.messageId, authenticationResults = "mx.reports.example; dmarc=fail",
    dkimDomain = None, source = AggregateXmlParser.offlineSource(f.ip),
    deliveryResult = f.deliveryResult, authFailure = f.authFailure,
    reportedDomain = f.reportedDomain, authenticationMechanisms = Seq.empty,
    sampleHeadersOnly = true, sample = s"From: ${f.mailFrom}\r\nSubject: test\r\n")

  def tlsReport(t: ModelTls): TlsReport = TlsReport(
    organizationName = t.org, beginDate = new Timestamp(t.beginMs),
    endDate = new Timestamp(t.beginMs + DayMs - 1000L), contactInfo = "tls-reports@reports.example",
    reportId = t.reportId,
    policies = t.policies.map { p =>
      TlsPolicy(p.domain, "sts", Seq("version: STSv1", "mode: enforce"), Seq(s"*.${p.domain}"),
        p.ok, p.failed,
        p.failures.map(f => TlsFailureDetail(f.resultType, f.failed, Some(f.sendingIp),
          Some(f.receivingIp), Some(s"mx.${p.domain}"), None, None, None)))
    })

  // ------------------------------------------------------- wire formats

  private def rfc2822(ms: Long): String =
    DateTimeFormatter.RFC_1123_DATE_TIME.format(Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC))
  private def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString

  def aggregateXml(a: ModelAggregate): String = {
    val sb = new StringBuilder(512 + a.records.size * 600)
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<feedback>\n  <version>1.0</version>\n"
    sb ++= s"  <report_metadata>\n    <org_name>${a.org}</org_name>\n    <email>${a.email}</email>\n"
    sb ++= s"    <report_id>${a.reportId}</report_id>\n    <date_range>\n"
    sb ++= s"      <begin>${a.beginMs / 1000}</begin>\n      <end>${a.endMs / 1000}</end>\n"
    sb ++= "    </date_range>\n  </report_metadata>\n"
    sb ++= s"  <policy_published>\n    <domain>${a.domain}</domain>\n    <adkim>r</adkim>\n"
    sb ++= s"    <aspf>r</aspf>\n    <p>${a.p}</p>\n    <sp>${a.p}</sp>\n    <pct>100</pct>\n  </policy_published>\n"
    a.records.foreach { m =>
      sb ++= s"  <record>\n    <row>\n      <source_ip>${m.ip}</source_ip>\n      <count>${m.count}</count>\n"
      sb ++= s"      <policy_evaluated>\n        <disposition>${m.disposition}</disposition>\n"
      sb ++= s"        <dkim>${m.dkimEval}</dkim>\n        <spf>${m.spfEval}</spf>\n"
      m.reason.foreach(t => sb ++= s"        <reason>\n          <type>$t</type>\n        </reason>\n")
      sb ++= "      </policy_evaluated>\n    </row>\n"
      sb ++= s"    <identifiers>\n      <header_from>${m.headerFrom}</header_from>\n"
      sb ++= s"      <envelope_from>${m.envelopeFrom}</envelope_from>\n    </identifiers>\n"
      sb ++= s"    <auth_results>\n      <dkim>\n        <domain>${m.dkimDomain}</domain>\n"
      sb ++= s"        <selector>s1</selector>\n        <result>${m.dkimResult}</result>\n      </dkim>\n"
      sb ++= s"      <spf>\n        <domain>${m.spfDomain}</domain>\n        <scope>mfrom</scope>\n"
      sb ++= s"        <result>${m.spfResult}</result>\n      </spf>\n    </auth_results>\n  </record>\n"
    }
    sb ++= "</feedback>\n"
    sb.toString
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  def zip(name: String, b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry(name)); z.write(b); z.closeEntry(); z.close()
    bos.toByteArray
  }

  private def b64(b: Array[Byte]): String = java.util.Base64.getMimeEncoder.encodeToString(b)

  /** A report mail carrying a base64 gzip attachment, as mailbox
    * providers send aggregate and TLS reports.
    */
  def mail(subject: String, dateMs: Long, attachName: String, contentType: String,
           payload: Array[Byte]): Array[Byte] =
    (s"From: reports@reports.example\r\nTo: dmarc@example.com\r\nSubject: $subject\r\n" +
      s"Date: ${rfc2822(dateMs)}\r\nMIME-Version: 1.0\r\n" +
      "Content-Type: multipart/mixed; boundary=\"bench-boundary\"\r\n\r\n" +
      "--bench-boundary\r\nContent-Type: text/plain\r\n\r\nReport attached.\r\n" +
      s"--bench-boundary\r\nContent-Type: $contentType; name=\"$attachName\"\r\n" +
      s"Content-Disposition: attachment; filename=\"$attachName\"\r\n" +
      "Content-Transfer-Encoding: base64\r\n\r\n" + b64(payload) + "\r\n--bench-boundary--\r\n")
      .getBytes(UTF_8)

  def arfEml(f: ModelForensic): Array[Byte] =
    (s"From: arf-reporter@reports.example\r\nTo: dmarc-ruf@${f.reportedDomain}\r\n" +
      s"Subject: Authentication failure for ${f.reportedDomain}\r\n" +
      s"Date: ${rfc2822(f.arrivalMs)}\r\nMessage-ID: ${f.messageId}\r\nMIME-Version: 1.0\r\n" +
      "Content-Type: multipart/report; report-type=feedback-report; boundary=\"arf-boundary\"\r\n\r\n" +
      "--arf-boundary\r\nContent-Type: text/plain\r\n\r\nThis is an authentication failure report.\r\n" +
      "--arf-boundary\r\nContent-Type: message/feedback-report\r\n\r\n" +
      "Feedback-Type: auth-failure\r\nUser-Agent: dmarcbench/1.0\r\nVersion: 1\r\n" +
      s"Original-Mail-From: ${f.mailFrom}\r\nArrival-Date: ${rfc2822(f.arrivalMs)}\r\n" +
      s"Source-IP: ${f.ip}\r\nReported-Domain: ${f.reportedDomain}\r\n" +
      s"Delivery-Result: ${f.deliveryResult}\r\nAuth-Failure: ${f.authFailure.mkString(",")}\r\n" +
      "Authentication-Results: mx.reports.example; dmarc=fail\r\n\r\n" +
      "--arf-boundary\r\nContent-Type: text/rfc822-headers\r\n\r\n" +
      s"From: ${f.mailFrom}\r\nSubject: test\r\n" +
      "--arf-boundary--\r\n").getBytes(UTF_8)

  def tlsJson(t: ModelTls): String = {
    def q(s: String) = "\"" + s + "\""
    val pols = t.policies.map { p =>
      val fails = p.failures.map { f =>
        s"""{"result-type":${q(f.resultType)},"sending-mta-ip":${q(f.sendingIp)},"receiving-ip":${q(f.receivingIp)},"receiving-mx-hostname":${q("mx." + p.domain)},"failed-session-count":${f.failed}}"""
      }.mkString(",")
      s"""{"policy":{"policy-type":"sts","policy-string":["version: STSv1","mode: enforce"],"policy-domain":${q(p.domain)},"mx-host-pattern":[${q("*." + p.domain)}]},""" +
        s""""summary":{"total-successful-session-count":${p.ok},"total-failure-session-count":${p.failed}},"failure-details":[$fails]}"""
    }.mkString(",")
    s"""{"organization-name":${q(t.org)},"date-range":{"start-datetime":${q(iso(t.beginMs))},"end-datetime":${q(iso(t.beginMs + DayMs - 1000L))}},"contact-info":"tls-reports@reports.example","report-id":${q(t.reportId)},"policies":[$pols]}"""
  }
}
