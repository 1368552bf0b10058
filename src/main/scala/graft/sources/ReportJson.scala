package graft.sources

import java.sql.Timestamp
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

/** The reference CLI's report documents, byte-faithful.
  *
  * internal/output/output.go renders each parsed report with Go's
  * `json.MarshalIndent(report, "", "  ")` (JSON mode) or
  * `encoding/csv` (CSV mode). This module reproduces those byte
  * streams from the Scala model so `graft.GraftCli` emits the same
  * documents a reference user consumes today — and, because the
  * functions are pure over the case-class model, the same serializer
  * runs unchanged on executors when the ingest is a distributed
  * binaryFile scan rather than one CLI file.
  *
  * Faithfulness contract (what "byte-faithful" means here):
  *   - field names and ORDER are types.go's struct-tag order
  *     (types.go:17-170); Go marshals fields in declaration order;
  *   - MarshalIndent layout: two-space indent, `": "` after keys,
  *     empty composites inline (`{}` / `[]`);
  *   - Go string escaping incl. the HTML-safe escapes (`<` `>` `&` →
  *     < > &), � for unpaired surrogates, and
  *     U+2028/U+2029 escaped;
  *   - `time.Time` renders RFC3339(Nano): seconds, fraction only when
  *     non-zero with trailing zeros trimmed, `Z` for UTC (the parsers
  *     produce UTC instants — utils.go:29 `time.Unix(ts,0).UTC()`);
  *   - nil slices render `null` (Go's nil-slice marshal); the Scala
  *     model's empty Seq maps to nil because every parser path either
  *     leaves the slice nil or appends at least one element;
  *   - `omitempty` fields (SMTPTLSPolicy policy_strings /
  *     mx_host_patterns / failure_details, and every pointer field of
  *     SMTPTLSFailureDetails — types.go:152-170) are DROPPED when
  *     empty/None, exactly like Go.
  *
  * Documented delta: forensic `arrival_date` renders in UTC even when
  * the ARF Arrival-Date header carried a non-UTC offset (the Scala
  * model stores the instant, not the source offset); `arrival_date_utc`
  * is identical in both engines.
  */
object ReportJson {

  // ------------------------------------------------------------ model
  sealed trait J
  case object JNull extends J
  final case class JStr(s: String) extends J
  final case class JInt(v: Long) extends J
  final case class JBool(v: Boolean) extends J
  /** Renders `[...]`; use [[JNull]] for Go nil-slice semantics. */
  final case class JArr(items: Seq[J]) extends J
  final case class JObj(fields: Seq[(String, J)]) extends J

  private def jStrOpt(o: Option[String]): J = o.fold(JNull: J)(JStr(_))
  /** Go nil-slice rule: empty Seq marshals as `null`. */
  private def jArrOrNull(items: Seq[J]): J = if (items.isEmpty) JNull else JArr(items)

  // -------------------------------------------------- Go time.Time
  private val SecondsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Go `time.Time.MarshalJSON` body (RFC 3339 with nanoseconds,
    * trailing zeros trimmed) for a UTC instant.
    */
  def goTime(ts: Timestamp): String = {
    val i = ts.toInstant
    val frac =
      if (i.getNano == 0) ""
      else "." + f"${i.getNano}%09d".reverse.dropWhile(_ == '0').reverse
    SecondsFmt.format(i) + frac + "Z"
  }

  /** Go `time.Time.Format(time.RFC3339)` — seconds precision, used by
    * the CSV rows and directory filenames.
    */
  def goTimeSeconds(ts: Timestamp): String = SecondsFmt.format(ts.toInstant) + "Z"

  // -------------------------------------------------- Go string quote
  /** Go encoding/json string escaping with HTML escaping ON (the
    * Marshal default): `"` `\` escaped, \n \r \t shorthands, other
    * control bytes \u00xx, `<` `>` `&` → < > &,
    * U+2028/U+2029 escaped, unpaired surrogates → U+FFFD.
    */
  def goQuote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case '<'  => b.append("\\u003c")
        case '>'  => b.append("\\u003e")
        case '&'  => b.append("\\u0026")
        case '\u2028' => b.append("\\u2028")
        case '\u2029' => b.append("\\u2029")
        case _ if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case _ if Character.isHighSurrogate(c) =>
          if (i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) {
            b.append(c).append(s.charAt(i + 1)); i += 1
          } else b.append('�')
        case _ if Character.isLowSurrogate(c) => b.append('�')
        case _ => b.append(c)
      }
      i += 1
    }
    b.append('"')
    b.toString
  }

  // -------------------------------------------------- MarshalIndent
  /** `json.MarshalIndent(v, "", "  ")`: two-space indent, key-value
    * separated by `": "`, empty composites inline.
    */
  def render(j: J): String = {
    val b = new StringBuilder
    def pad(depth: Int): Unit = { var k = 0; while (k < depth) { b.append("  "); k += 1 } }
    def go(v: J, depth: Int): Unit = v match {
      case JNull    => b.append("null")
      case JBool(x) => b.append(if (x) "true" else "false")
      case JInt(x)  => b.append(x.toString)
      case JStr(x)  => b.append(goQuote(x))
      case JArr(items) =>
        if (items.isEmpty) b.append("[]")
        else {
          b.append("[\n")
          var first = true
          items.foreach { it =>
            if (!first) b.append(",\n")
            first = false
            pad(depth + 1); go(it, depth + 1)
          }
          b.append('\n'); pad(depth); b.append(']')
        }
      case JObj(fields) =>
        if (fields.isEmpty) b.append("{}")
        else {
          b.append("{\n")
          var first = true
          fields.foreach { case (k, fv) =>
            if (!first) b.append(",\n")
            first = false
            pad(depth + 1); b.append(goQuote(k)).append(": "); go(fv, depth + 1)
          }
          b.append('\n'); pad(depth); b.append('}')
        }
    }
    go(j, 0)
    b.toString
  }

  /** `json.Marshal(v)` — the compact form (same escaping and field
    * order, no whitespace); what the reference's Kafka sender puts on
    * the wire (kafka.go:39,72,108).
    */
  def renderCompact(j: J): String = j match {
    case JNull    => "null"
    case JBool(x) => if (x) "true" else "false"
    case JInt(x)  => x.toString
    case JStr(x)  => goQuote(x)
    case JArr(items) => items.map(renderCompact).mkString("[", ",", "]")
    case JObj(fields) =>
      fields.map { case (k, v) => goQuote(k) + ":" + renderCompact(v) }
        .mkString("{", ",", "}")
  }

  // -------------------------------------------------- report documents
  private def sourceObj(s: SourceInfo): J = JObj(Seq(
    "ip_address" -> JStr(s.ipAddress),
    "country" -> JStr(s.country),
    "reverse_dns" -> JStr(s.reverseDns),
    "base_domain" -> JStr(s.baseDomain),
    "name" -> JStr(s.name),
    "type" -> JStr(s.sourceType),
  ))

  /** `json.MarshalIndent` of parser.AggregateReport (types.go:17-113). */
  def aggregate(r: AggregateReport): String = render(aggregateTree(r))

  /** `json.Marshal` (compact) — the Kafka payload bytes. */
  def aggregateCompact(r: AggregateReport): String = renderCompact(aggregateTree(r))

  private def aggregateTree(r: AggregateReport): J = JObj(Seq(
    "xml_schema" -> JStr(r.xmlSchema),
    "report_metadata" -> JObj(Seq(
      "org_name" -> JStr(r.orgName),
      "org_email" -> JStr(r.orgEmail),
      "org_extra_contact_info" -> jStrOpt(r.orgExtraContactInfo),
      "report_id" -> JStr(r.reportId),
      "begin_date" -> JStr(goTime(r.beginDate)),
      "end_date" -> JStr(goTime(r.endDate)),
      "errors" -> jArrOrNull(r.errors.map(JStr(_))),
    )),
    "policy_published" -> JObj(Seq(
      "domain" -> JStr(r.domain),
      "adkim" -> JStr(r.adkim),
      "aspf" -> JStr(r.aspf),
      "p" -> JStr(r.p),
      "sp" -> JStr(r.sp),
      "pct" -> JStr(r.pct),
      "fo" -> JStr(r.fo),
    )),
    "records" -> jArrOrNull(r.records.map { rec =>
      JObj(Seq(
        "source" -> sourceObj(rec.source),
        "count" -> JInt(rec.count.toLong),
        "alignment" -> JObj(Seq(
          "spf" -> JBool(rec.spfAligned),
          "dkim" -> JBool(rec.dkimAligned),
          "dmarc" -> JBool(rec.dmarcAligned),
        )),
        "policy_evaluated" -> JObj(Seq(
          "disposition" -> JStr(rec.disposition),
          "dkim" -> JStr(rec.policyEvalDkim),
          "spf" -> JStr(rec.policyEvalSpf),
          "policy_override_reasons" -> jArrOrNull(rec.overrides.map(o =>
            JObj(Seq("type" -> jStrOpt(o.reasonType), "comment" -> jStrOpt(o.comment))))),
        )),
        "identifiers" -> JObj(Seq(
          "header_from" -> JStr(rec.headerFrom),
          "envelope_from" -> jStrOpt(rec.envelopeFrom),
          "envelope_to" -> jStrOpt(rec.envelopeTo),
        )),
        "auth_results" -> JObj(Seq(
          "dkim" -> jArrOrNull(rec.dkim.map(d => JObj(Seq(
            "domain" -> JStr(d.domain),
            "selector" -> JStr(d.selector),
            "result" -> JStr(d.result))))),
          "spf" -> jArrOrNull(rec.spf.map(sp => JObj(Seq(
            "domain" -> JStr(sp.domain),
            "scope" -> JStr(sp.scope),
            "result" -> JStr(sp.result))))),
        )),
      ))
    }),
  ))

  /** `json.MarshalIndent` of parser.ForensicReport (types.go:115-137).
    * `parsed_sample` reproduces parser.go:1684-1690's RawMessage
    * (`{"headers_only":…,"raw_sample":…}` — map keys already sort
    * alphabetically), re-indented the way MarshalIndent re-indents
    * embedded RawMessage bytes.
    */
  def forensic(r: ForensicReport): String = render(forensicTree(r))

  /** `json.Marshal` (compact) — the Kafka payload bytes. */
  def forensicCompact(r: ForensicReport): String = renderCompact(forensicTree(r))

  private def forensicTree(r: ForensicReport): J = JObj(Seq(
    "feedback_type" -> JStr(r.feedbackType),
    "user_agent" -> jStrOpt(r.userAgent),
    "version" -> jStrOpt(r.version),
    "original_envelope_id" -> jStrOpt(r.originalEnvelopeId),
    "original_mail_from" -> jStrOpt(r.originalMailFrom),
    "original_rcpt_to" -> jStrOpt(r.originalRcptTo),
    "arrival_date" -> JStr(goTime(r.arrivalDate)),
    "arrival_date_utc" -> JStr(goTime(r.arrivalDate)),
    "subject" -> JStr(r.subject),
    "message_id" -> JStr(r.messageId),
    "authentication_results" -> JStr(r.authenticationResults),
    "dkim_domain" -> jStrOpt(r.dkimDomain),
    "source" -> sourceObj(r.source),
    "delivery_result" -> JStr(r.deliveryResult),
    "auth_failure" -> jArrOrNull(r.authFailure.map(JStr(_))),
    "reported_domain" -> JStr(r.reportedDomain),
    "authentication_mechanisms" -> jArrOrNull(r.authenticationMechanisms.map(JStr(_))),
    "sample_headers_only" -> JBool(r.sampleHeadersOnly),
    "sample" -> JStr(r.sample),
    "parsed_sample" -> JObj(Seq(
      "headers_only" -> JBool(r.sampleHeadersOnly),
      "raw_sample" -> JStr(r.sample),
    )),
  ))

  /** `json.MarshalIndent` of parser.SMTPTLSReport (types.go:139-170) —
    * the only family with `omitempty` tags, honored field-by-field.
    */
  def smtpTls(r: TlsReport): String = render(smtpTlsTree(r))

  /** `json.Marshal` (compact) — the Kafka payload bytes. */
  def smtpTlsCompact(r: TlsReport): String = renderCompact(smtpTlsTree(r))

  private def smtpTlsTree(r: TlsReport): J = {
    def failureObj(f: TlsFailureDetail): J = JObj(
      Seq[(String, J)](
        "result_type" -> JStr(f.resultType),
        "failed_session_count" -> JInt(f.failedSessionCount),
      ) ++
      f.sendingMtaIp.map(v => "sending_mta_ip" -> (JStr(v): J)) ++
      f.receivingIp.map(v => "receiving_ip" -> (JStr(v): J)) ++
      f.receivingMxHostname.map(v => "receiving_mx_hostname" -> (JStr(v): J)) ++
      f.receivingMxHelo.map(v => "receiving_mx_helo" -> (JStr(v): J)) ++
      f.additionalInfoUri.map(v => "additional_info_uri" -> (JStr(v): J)) ++
      f.failureReasonCode.map(v => "failure_reason_code" -> (JStr(v): J)))

    def policyObj(p: TlsPolicy): J = JObj(
      Seq[(String, J)](
        "policy_domain" -> JStr(p.policyDomain),
        "policy_type" -> JStr(p.policyType),
      ) ++
      (if (p.policyStrings.isEmpty) Nil
       else Seq("policy_strings" -> (JArr(p.policyStrings.map(JStr(_))): J))) ++
      (if (p.mxHostPatterns.isEmpty) Nil
       else Seq("mx_host_patterns" -> (JArr(p.mxHostPatterns.map(JStr(_))): J))) ++
      Seq[(String, J)](
        "successful_session_count" -> JInt(p.successfulSessionCount),
        "failed_session_count" -> JInt(p.failedSessionCount),
      ) ++
      (if (p.failureDetails.isEmpty) Nil
       else Seq("failure_details" -> (JArr(p.failureDetails.map(failureObj)): J))))

    JObj(Seq(
      "organization_name" -> JStr(r.organizationName),
      "begin_date" -> JStr(goTime(r.beginDate)),
      "end_date" -> JStr(goTime(r.endDate)),
      "contact_info" -> JStr(r.contactInfo),
      "report_id" -> JStr(r.reportId),
      "policies" -> jArrOrNull(r.policies.map(policyObj)),
    ))
  }

  // -------------------------------------------------- Go encoding/csv
  /** Go `unicode.IsSpace` — NOT Java's Character.isWhitespace, which
    * diverges on both sides (Java excludes the non-breaking spaces
    * U+00A0/U+2007/U+202F that Go includes, and includes the control
    * chars U+001C-001F that Go excludes).
    */
  private def goIsSpace(c: Char): Boolean = c match {
    case '\t' | '\n' | '\u000B' | '\f' | '\r' | ' ' | '\u0085' | '\u00A0' => true
    case _ =>
      Character.getType(c) match {
        case Character.SPACE_SEPARATOR | Character.LINE_SEPARATOR |
             Character.PARAGRAPH_SEPARATOR => true
        case _ => false
      }
  }

  /** Go encoding/csv field quoting (csv/writer.go fieldNeedsQuotes):
    * quoted when the field contains a comma, quote, CR or LF, starts
    * with a Unicode space (Go's IsSpace), or is the literal `\.`.
    */
  private def csvField(f: String): String = {
    val needs =
      f == "\\." ||
      f.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n') ||
      (f.nonEmpty && goIsSpace(f.charAt(0)))
    if (needs) "\"" + f.replace("\"", "\"\"") + "\"" else f
  }

  /** One `csv.Writer.Write` call with UseCRLF=false: `\n` terminator,
    * field bytes verbatim — writer.go writes both `\r` and `\n` as-is
    * in this mode (the `\r`-dropping branch is UseCRLF=true only, where
    * the following `\n` re-expands to CRLF).
    */
  def csvLine(fields: Seq[String]): String =
    fields.map(csvField).mkString(",") + "\n"

  // Column layouts of the stream-mode CSV writers (output.go:265-462).
  val AggregateCsvHeader: Seq[String] = Seq(
    "report_id", "org_name", "org_email", "begin_date", "end_date",
    "domain", "policy_adkim", "policy_aspf", "policy_p", "policy_sp", "policy_pct",
    "source_ip", "source_country", "source_reverse_dns", "count",
    "disposition", "dkim_result", "spf_result", "dmarc_aligned",
    "header_from", "envelope_from", "dkim_domain", "dkim_selector", "spf_domain")

  /** One CSV row per record (output.go:280-305): first dkim/spf auth
    * result wins the flattened columns, dmarc_aligned via FormatBool.
    */
  def aggregateCsvRows(r: AggregateReport): Seq[Seq[String]] =
    r.records.map { rec =>
      Seq(
        r.reportId, r.orgName, r.orgEmail,
        goTimeSeconds(r.beginDate), goTimeSeconds(r.endDate),
        r.domain, r.adkim, r.aspf, r.p, r.sp, r.pct,
        rec.source.ipAddress, rec.source.country, rec.source.reverseDns,
        rec.count.toString,
        rec.disposition, rec.policyEvalDkim, rec.policyEvalSpf,
        if (rec.dmarcAligned) "true" else "false",
        rec.headerFrom, rec.envelopeFrom.getOrElse(""),
        rec.dkim.headOption.map(_.domain).getOrElse(""),
        rec.dkim.headOption.map(_.selector).getOrElse(""),
        rec.spf.headOption.map(_.domain).getOrElse(""))
    }

  val ForensicCsvHeader: Seq[String] = Seq(
    "feedback_type", "user_agent", "version", "original_envelope_id",
    "original_mail_from", "original_rcpt_to", "arrival_date", "subject",
    "message_id", "authentication_results", "dkim_domain", "source_ip",
    "source_country", "delivery_result", "auth_failure", "reported_domain")

  def forensicCsvRow(r: ForensicReport): Seq[String] = Seq(
    r.feedbackType,
    r.userAgent.getOrElse(""), r.version.getOrElse(""),
    r.originalEnvelopeId.getOrElse(""), r.originalMailFrom.getOrElse(""),
    r.originalRcptTo.getOrElse(""),
    goTimeSeconds(r.arrivalDate),
    r.subject, r.messageId, r.authenticationResults,
    r.dkimDomain.getOrElse(""),
    r.source.ipAddress, r.source.country,
    r.deliveryResult,
    r.authFailure.mkString(";"),
    r.reportedDomain)

  val TlsCsvHeader: Seq[String] = Seq(
    "organization_name", "begin_date", "end_date", "contact_info", "report_id",
    "policy_domain", "policy_type", "successful_session_count", "failed_session_count",
    "failure_result_type", "failure_sending_mta_ip", "failure_receiving_ip")

  /** One row per policy, fanned to one per failure detail when present
    * (output.go:399-462).
    */
  def tlsCsvRows(r: TlsReport): Seq[Seq[String]] =
    r.policies.flatMap { p =>
      val base = Seq(
        r.organizationName, goTimeSeconds(r.beginDate), goTimeSeconds(r.endDate),
        r.contactInfo, r.reportId, p.policyDomain, p.policyType,
        p.successfulSessionCount.toString, p.failedSessionCount.toString)
      if (p.failureDetails.isEmpty) Seq(base ++ Seq("", "", ""))
      else p.failureDetails.map(f => base ++ Seq(
        f.resultType, f.sendingMtaIp.getOrElse(""), f.receivingIp.getOrElse("")))
    }

  // ------------------------------------------------------- documents
  /** The per-report document bytes for a format — one definition shared
    * by the CLI's sinks and the o_cli_json/o_cli_csv distributed gate
    * entries (DmarcIngest.cliDocs), so the CLI's output and its hash
    * gate cannot drift apart. JSON: the MarshalIndent document; CSV: the
    * per-file header + rows (the stream layout — output.go:616-700's
    * directory headers are the same columns).
    */
  def renderDocument(p: ParsedReport, format: String): String =
    if (format == "json") p match {
      case ParsedAggregate(r) => aggregate(r)
      case ParsedForensic(r)  => forensic(r)
      case ParsedTls(r)       => smtpTls(r)
    } else p match {
      case ParsedAggregate(r) =>
        (csvLine(AggregateCsvHeader) +: aggregateCsvRows(r).map(csvLine)).mkString
      case ParsedForensic(r) =>
        csvLine(ForensicCsvHeader) + csvLine(forensicCsvRow(r))
      case ParsedTls(r) =>
        (csvLine(TlsCsvHeader) +: tlsCsvRows(r).map(csvLine)).mkString
    }

  // -------------------------------------------------- directory names
  /** `{type}_{20060102_150405}_{id}.{ext}` (output.go:generateFilename);
    * forensic ids are the first 8 bytes of sha256(message_id) in hex.
    */
  def directoryFilename(reportType: String, id: String, ts: Timestamp, ext: String): String = {
    val stamp = DateTimeFormatter.ofPattern("uuuuMMdd_HHmmss")
      .withZone(ZoneOffset.UTC).format(ts.toInstant)
    s"${reportType}_${stamp}_$id.$ext"
  }

  def forensicFileId(messageId: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(messageId.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
}
