package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, GZIPOutputStream, ZipEntry, ZipOutputStream}

/** Inline report fixtures, one of each shape an intake meets: an
  * aggregate XML report raw, gzipped, zipped and mailed as a base64
  * attachment; an ARF forensic mail; an SMTP TLS JSON report. Specs
  * build them from these strings, so they need no corpus on disk.
  */
object DmarcFixtures {

  val AggregateXml: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<feedback>
      |  <version>1.0</version>
      |  <report_metadata>
      |    <org_name>receiver.example</org_name>
      |    <email>noreply@receiver.example</email>
      |    <report_id>fixture-agg-1</report_id>
      |    <date_range><begin>1704067200</begin><end>1704153599</end></date_range>
      |  </report_metadata>
      |  <policy_published>
      |    <domain>example.com</domain><adkim>r</adkim><aspf>r</aspf>
      |    <p>none</p><sp>none</sp><pct>100</pct>
      |  </policy_published>
      |  <record>
      |    <row>
      |      <source_ip>192.0.2.10</source_ip><count>3</count>
      |      <policy_evaluated><disposition>none</disposition><dkim>pass</dkim><spf>fail</spf></policy_evaluated>
      |    </row>
      |    <identifiers><header_from>example.com</header_from></identifiers>
      |    <auth_results>
      |      <dkim><domain>example.com</domain><selector>s1</selector><result>pass</result></dkim>
      |      <spf><domain>bounce.example.com</domain><result>softfail</result></spf>
      |    </auth_results>
      |  </record>
      |  <record>
      |    <row>
      |      <source_ip>198.51.100.7</source_ip><count>1</count>
      |      <policy_evaluated>
      |        <disposition>quarantine</disposition><dkim>fail</dkim><spf>fail</spf>
      |        <reason><type>local_policy</type></reason>
      |      </policy_evaluated>
      |    </row>
      |    <identifiers><envelope_from>other.example</envelope_from><header_from>Example.com</header_from></identifiers>
      |    <auth_results>
      |      <spf><domain>other.example</domain><result>fail</result></spf>
      |    </auth_results>
      |  </record>
      |</feedback>
      |""".stripMargin

  val ArfEml: String =
    """From: abuse@receiver.example
      |To: dmarc-ruf@example.com
      |Subject: Report Domain: example.com Submitter: receiver.example
      |Date: Mon, 01 Jan 2024 12:00:00 +0000
      |Message-ID: <arf-1@receiver.example>
      |MIME-Version: 1.0
      |Content-Type: multipart/report; report-type=feedback-report; boundary="arf"
      |
      |--arf
      |Content-Type: text/plain; charset="US-ASCII"
      |
      |This is an authentication failure report.
      |--arf
      |Content-Type: message/feedback-report
      |
      |Feedback-Type: auth-failure
      |User-Agent: fixture/1.0
      |Version: 1
      |Original-Mail-From: <bounce@example.com>
      |Arrival-Date: Mon, 01 Jan 2024 11:59:00 +0000
      |Source-IP: 192.0.2.10
      |Reported-Domain: example.com
      |Authentication-Results: receiver.example; dmarc=fail header.from=example.com
      |Delivery-Result: reject
      |Auth-Failure: dmarc
      |
      |--arf
      |Content-Type: text/rfc822-headers
      |
      |From: sender@example.com
      |To: user@receiver.example
      |Subject: hello
      |
      |--arf--
      |""".stripMargin

  /** One policy with two failure details, one policy with none. */
  val TlsJson: String =
    """{
      |  "organization-name": "Receiver Mail",
      |  "date-range": {"start-datetime": "2024-01-01T00:00:00Z", "end-datetime": "2024-01-01T23:59:59Z"},
      |  "contact-info": "tls@receiver.example",
      |  "report-id": "fixture-tls-1",
      |  "policies": [
      |    {"policy": {"policy-type": "sts", "policy-string": ["version: STSv1", "mode: enforce"],
      |                "policy-domain": "example.com", "mx-host-pattern": ["*.example.com"]},
      |     "summary": {"total-successful-session-count": 100, "total-failure-session-count": 3},
      |     "failure-details": [
      |       {"result-type": "certificate-expired", "sending-mta-ip": "192.0.2.20",
      |        "receiving-mx-hostname": "mx1.example.com", "failed-session-count": 2},
      |       {"result-type": "starttls-not-supported", "sending-mta-ip": "192.0.2.21",
      |        "receiving-ip": "203.0.113.5", "failed-session-count": 1}]},
      |    {"policy": {"policy-type": "no-policy-found", "policy-domain": "example.org"},
      |     "summary": {"total-successful-session-count": 50, "total-failure-session-count": 0}}
      |  ]
      |}
      |""".stripMargin

  def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  def gzip(b: Array[Byte], level: Int = Deflater.DEFAULT_COMPRESSION): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out) { `def`.setLevel(level) }
    gz.write(b)
    gz.close()
    out.toByteArray
  }

  def zip(name: String, b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    z.putNextEntry(new ZipEntry(name))
    z.write(b)
    z.closeEntry()
    z.close()
    out.toByteArray
  }

  /** The aggregate report gzipped and mailed as a base64 attachment. */
  val AggregateEml: String = {
    val b64 = java.util.Base64.getMimeEncoder.encodeToString(gzip(utf8(AggregateXml)))
    s"""From: noreply@receiver.example
       |To: dmarc-rua@example.com
       |Subject: Report Domain: example.com Submitter: receiver.example Report-ID: fixture-agg-1
       |MIME-Version: 1.0
       |Content-Type: multipart/mixed; boundary="agg"
       |
       |--agg
       |Content-Type: text/plain
       |
       |DMARC aggregate report attached.
       |--agg
       |Content-Type: application/gzip; name="receiver.example!example.com!1704067200!1704153599.xml.gz"
       |Content-Disposition: attachment; filename="receiver.example!example.com!1704067200!1704153599.xml.gz"
       |Content-Transfer-Encoding: base64
       |
       |$b64
       |--agg--
       |""".stripMargin
  }

  /** Every fixture as (file name, bytes), one file per shape. */
  val AllFiles: Seq[(String, Array[Byte])] = Seq(
    "agg.xml" -> utf8(AggregateXml),
    "agg.xml.gz" -> gzip(utf8(AggregateXml)),
    "agg.zip" -> zip("agg.xml", utf8(AggregateXml)),
    "agg.eml" -> utf8(AggregateEml),
    "arf.eml" -> utf8(ArfEml),
    "tls.json" -> utf8(TlsJson))

  /** A gzip with valid magic bytes whose body stops short. */
  def truncatedGzip: Array[Byte] = {
    val full = gzip(utf8(AggregateXml))
    full.take(full.length / 2)
  }

  /** A stored (uncompressed) gzip of the ARF mail cut in half: its
    * bytes hold the mail's blank-line-separated text verbatim, which
    * the forensic parser's plain-text fallback would accept.
    */
  def truncatedStoredGzip: Array[Byte] = {
    val full = gzip(utf8(ArfEml), Deflater.NO_COMPRESSION)
    full.take(full.length / 2)
  }
}
