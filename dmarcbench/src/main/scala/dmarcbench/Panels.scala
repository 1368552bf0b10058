package dmarcbench

import scala.math.BigDecimal.RoundingMode

import graft.api.TlsAnalytics
import graft.sources.GrafanaDashboards
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The expected answer of one panel. Rows are unique on the `key`
  * columns; `sort` is the ORDER BY column and whether it is descending;
  * `limit` is the LIMIT (0: none). Ties at the LIMIT edge and within the
  * ORDER BY may come back in any order, so the check compares each row
  * by key and the sort column as a multiset.
  */
final case class Expect(rows: Vector[Vector[Any]], key: Seq[Int], sort: Option[(Int, Boolean)],
                        limit: Int = 0)

/** A panel the viewer loads: its name and the call that answers it. */
final case class Panel(name: String, run: SparkSession => Vector[Vector[Any]])

object Panels {

  /** A panel's rows with every value in the model's terms: integers as
    * Long, decimals as BigDecimal, dates as ISO strings, timestamps as
    * epoch ms, arrays as Vectors.
    */
  def rows(df: DataFrame): Vector[Vector[Any]] = df.collect().toVector.map(r => r.toSeq.map(norm).toVector)

  def norm(v: Any): Any = v match {
    case i: Int => i.toLong
    case d: java.math.BigDecimal => BigDecimal(d)
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.getTime
    case s: scala.collection.Seq[_] => s.map(norm).toVector
    case o => o
  }

  def overview: Vector[Panel] = GrafanaDashboards.Overview.panels.toVector
    .map(p => Panel(s"overview.${p.id}", s => rows(s.sql(p.sparkSql))))

  def forensic: Vector[Panel] = GrafanaDashboards.Forensic.panels.toVector
    .map(p => Panel(s"forensic.${p.id}", s => rows(s.sql(p.sparkSql))))

  def tls(reportRows: DataFrame, failureRows: DataFrame): Vector[Panel] = Vector(
    Panel("tls.failure_breakdown", _ => rows(TlsAnalytics.failureBreakdown(failureRows))),
    Panel("tls.session_success", _ => rows(TlsAnalytics.sessionSuccessRate(reportRows))))

  // ------------------------------------------------------------ check

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    // rates are round(x, 2) of a decimal quotient; allow one unit in the
    // last place for the quotient's own rounding before round()
    case (x: BigDecimal, y: BigDecimal) => (x - y).abs <= BigDecimal("0.01")
    case (x: Vector[_], y: Vector[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => sameValue(p, q) }
    case _ => a == b
  }

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: String, y: String) => x.compareTo(y)
    case _ => 0
  }

  /** True iff `actual` is a correct answer for `e`. */
  def matches(actual: Vector[Vector[Any]], e: Expect): Boolean = {
    val k = if (e.limit > 0) math.min(e.limit, e.rows.size) else e.rows.size
    val want = e.rows.map(r => e.key.map(r) -> r).toMap
    val keys = actual.map(r => e.key.map(r))
    actual.size == k && keys.distinct.size == k &&
      actual.forall(r => r.size == e.rows.headOption.map(_.size).getOrElse(r.size) &&
        want.get(e.key.map(r)).exists(w => sameValue(r, w))) &&
      e.sort.forall { case (c, desc) =>
        val dir = if (desc) -1 else 1
        actual.sliding(2).forall {
          case Vector(a, b) => dir * compare(a(c), b(c)) <= 0
          case _ => true
        } && {
          val top = e.rows.map(_(c)).sortWith((a, b) => dir * compare(a, b) < 0).take(k)
          val got = actual.map(_(c)).sortWith((a, b) => dir * compare(a, b) < 0)
          top.zip(got).forall { case (a, b) => sameValue(a, b) }
        }
      }
  }

  // ------------------------------------------------------ the model

  private def rate(pass: Long, total: Long): BigDecimal =
    (BigDecimal(pass) * 100 / BigDecimal(total)).setScale(2, RoundingMode.HALF_UP)

  /** Overview answers over the records table holding `reports`.
    * `enriched`: whether the table's rows went through the geo
    * enrichment (the live stream's rows do not).
    */
  def expectOverview(reports: Iterator[ModelAggregate], clock: Clock, enriched: Boolean): Map[String, Expect] = {
    val daily = scala.collection.mutable.Map.empty[String, Long]
    var total, pass = 0L
    val status = scala.collection.mutable.Map.empty[String, Long]
    val disp = scala.collection.mutable.Map.empty[String, Long]
    val ctry = scala.collection.mutable.Map.empty[String, Long]
    val org = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val ip = scala.collection.mutable.Map.empty[String, (Long, Long)]
    reports.foreach { a =>
      if (a.beginMs >= clock.monthEdgeMs) {
        val d = Clock.day(a.beginMs)
        val week = a.beginMs >= clock.weekEdgeMs
        a.records.foreach { m =>
          daily(d) = daily.getOrElse(d, 0L) + m.count
          if (week) {
            val ok = if (m.aligned) m.count.toLong else 0L
            total += m.count; pass += ok
            val st = if (m.aligned) "Pass" else "Fail"
            status(st) = status.getOrElse(st, 0L) + m.count
            disp(m.disposition) = disp.getOrElse(m.disposition, 0L) + m.count
            val c = if (enriched) Gen.country(m.ip) else "Unknown"
            if (c != "Unknown") ctry(c) = ctry.getOrElse(c, 0L) + m.count
            val (ot, op) = org.getOrElse(a.org, (0L, 0L)); org(a.org) = (ot + m.count, op + ok)
            val (it, ipp) = ip.getOrElse(m.ip, (0L, 0L)); ip(m.ip) = (it + m.count, ipp + ok)
          }
        }
      }
    }
    Map(
      "overview.1" -> Expect(daily.toVector.map { case (d, n) => Vector[Any](d, n) }, Seq(0), Some(0 -> false)),
      "overview.2" -> Expect(Vector(Vector[Any](if (total == 0) null else total)), Nil, None),
      "overview.3" -> Expect(Vector(Vector[Any](if (total == 0) null else rate(pass, total))), Nil, None),
      "overview.4" -> Expect(status.toVector.map { case (s, n) => Vector[Any](s, n) }, Seq(0), Some(1 -> true)),
      "overview.5" -> Expect(disp.toVector.map { case (s, n) => Vector[Any](s, n) }, Seq(0), Some(1 -> true)),
      "overview.6" -> Expect(ctry.toVector.map { case (s, n) => Vector[Any](s, n) }, Seq(0), Some(1 -> true), 10),
      "overview.7" -> Expect(org.toVector.map { case (o, (n, p)) => Vector[Any](o, n, rate(p, n)) },
        Seq(0), Some(1 -> true), 20),
      "overview.8" -> Expect(ip.toVector.filter(_._2._1 > 100).map { case (i, (n, p)) =>
        val (c, r) = if (enriched) (Gen.country(i), Gen.reverseDns(i)) else ("Unknown", "")
        Vector[Any](i, r, c, n, rate(p, n))
      }, Seq(0, 1, 2), Some(3 -> true), 50))
  }

  /** Forensic answers. Panel 10 has none: it reads a column the stored
    * forensic table does not have, so every attempt counts as failed.
    */
  def expectForensic(reports: Iterator[ModelForensic], clock: Clock): Map[String, Expect] = {
    val fs = reports.filter(_.arrivalMs >= clock.monthEdgeMs).toVector
    val week = fs.filter(_.arrivalMs >= clock.weekEdgeMs)
    def counts(f: ModelForensic => String, keep: String => Boolean = _ => true) =
      week.groupBy(f).collect { case (k, v) if keep(k) => Vector[Any](k, v.size.toLong) }.toVector
    def one(v: Any) = Expect(Vector(Vector(v)), Nil, None)
    Map(
      "forensic.1" -> one(week.size.toLong),
      "forensic.2" -> one(week.count(_.arrivalMs >= clock.todayStartMs).toLong),
      "forensic.3" -> one(week.map(_.reportedDomain).distinct.size.toLong),
      "forensic.4" -> one(week.map(_.ip).distinct.size.toLong),
      "forensic.5" -> Expect(fs.groupBy(f => Clock.day(f.arrivalMs))
        .map { case (d, v) => Vector[Any](d, v.size.toLong) }.toVector, Seq(0), Some(0 -> false)),
      "forensic.6" -> Expect(counts(_ => "auth-failure"), Seq(0), Some(1 -> true)),
      "forensic.7" -> Expect(counts(_.deliveryResult), Seq(0), Some(1 -> true)),
      "forensic.8" -> Expect(counts(f => Gen.country(f.ip), _ != "Unknown"), Seq(0), Some(1 -> true), 10),
      "forensic.9" -> Expect(week.groupBy(_.reportedDomain).map { case (d, v) =>
        Vector[Any](d, v.size.toLong, v.map(_.ip).distinct.size.toLong,
          v.map(_.authFailure.mkString(";")).distinct.sorted)
      }.toVector, Seq(0), Some(1 -> true), 20))
  }

  def expectTls(reports: Iterator[ModelTls]): Map[String, Expect] = {
    val ts = reports.toVector
    val fails = ts.flatMap(_.policies.flatMap(_.failures))
    val pols = ts.flatMap(_.policies)
    Map(
      "tls.failure_breakdown" -> Expect(fails.groupBy(_.resultType).map { case (t, v) =>
        Vector[Any](t, v.size.toLong, v.map(_.failed).sum)
      }.toVector, Seq(0), Some(2 -> true)),
      "tls.session_success" -> Expect(pols.groupBy(_.domain).map { case (d, v) =>
        val ok = v.map(_.ok).sum; val bad = v.map(_.failed).sum
        Vector[Any](d, ok, bad, rate(ok, ok + bad))
      }.toVector, Seq(0), Some(0 -> false)))
  }
}
