package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** An independent, plain-Scala statement of the report the market job
  * produces, used to check every response of `report_jobs`. It keeps
  * the reference's quirks: NULL prices read as 0 before returns are
  * taken, the first row of the range has NULL returns, a zero price
  * gives −100 that day and NULL the next, and `S&P500` averages into
  * `Media_SP500_Retorno`. */
object ReturnsModel {
  final case class Market(assets: Seq[String], dates: Array[String], prices: Array[Array[Double]])
  final case class Report(header: Seq[String], dates: Seq[String],
      prices: Seq[Array[Double]], returns: Seq[Array[Option[Double]]],
      avgHeader: Seq[String], averages: Seq[Option[Double]])

  def readMarket(csv: Path): Market = {
    val lines = new String(Files.readAllBytes(csv), UTF_8).split("\n").filter(_.nonEmpty)
    val header = lines.head.split(",", -1).toSeq
    val rows = lines.tail.map(_.split(",", -1))
    Market(header.tail, rows.map(_(0)),
      rows.map(r => r.tail.map(c => if (c.isEmpty) 0.0 else c.toDouble)))
  }

  def report(m: Market, from: String, to: String): Report = {
    val idx = m.dates.indices.filter(i => m.dates(i) >= from && m.dates(i) <= to)
      .sortBy(m.dates(_))
    val returns = idx.indices.map { k =>
      Array.tabulate(m.assets.size) { a =>
        if (k == 0) None
        else {
          val prev = m.prices(idx(k - 1))(a)
          if (prev == 0.0) None else Some((m.prices(idx(k))(a) / prev - 1.0) * 100.0)
        }
      }
    }
    val averages = m.assets.indices.map { a =>
      val xs = returns.flatMap(_(a))
      if (xs.isEmpty) None else Some(xs.sum / xs.size)
    }
    Report(
      header = ("Date" +: m.assets) ++ m.assets.map(a => s"${a}_Retorno"),
      dates = idx.map(m.dates(_)),
      prices = idx.map(m.prices(_)),
      returns = returns,
      avgHeader = m.assets.map(a => s"Media_${a.replace("&", "")}_Retorno"),
      averages = averages)
  }

  /** The golden micro-fixture of FIXTURES.md §1: NULL first row, a zero
    * price giving −100 then NULL, `&` dropped from the average's name. */
  def selfTest(): Unit = {
    val m = Market(Seq("DOLAR", "S&P500"),
      Array("2024-09-13", "2024-09-16", "2024-09-17", "2024-09-18"),
      Array(Array(5.55, 5626.02), Array(5.54, 5633.09), Array(0.0, 5634.58), Array(5.46, 5618.26)))
    val r = report(m, "2024-09-13", "2024-09-18")
    val dolar = r.returns.map(_(0))
    require(r.returns.head.forall(_.isEmpty), "first row's returns must be NULL")
    require(dolar(2).contains(-100.0) && dolar(3).isEmpty, s"zero-price quirk broken: $dolar")
    require(math.abs(r.returns(1)(1).get - (5633.09 / 5626.02 - 1) * 100) < 1e-12)
    require(r.avgHeader == Seq("Media_DOLAR_Retorno", "Media_SP500_Retorno"), r.avgHeader.toString)
    require(r.averages(0).contains((dolar(1).get + -100.0) / 2), "avg must skip NULLs")
  }

  private def close(got: String, want: Option[Double]): Boolean = (got, want) match {
    case ("", None) => true
    case (g, Some(w)) if g.nonEmpty =>
      val d = g.toDouble
      d == w || math.abs(d - w) <= 1e-9 * math.max(1.0, math.abs(w))
    case _ => false
  }

  /** The single part file Spark wrote under `dir`. */
  private def partFile(dir: Path): Path = {
    val parts = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".csv"))
    require(parts.length == 1, s"expected one part file under $dir, found ${parts.length}")
    parts.head
  }

  private def readCsv(dir: Path): (Seq[String], Seq[Array[String]]) = {
    val lines = new String(Files.readAllBytes(partFile(dir)), UTF_8).split("\n").filter(_.nonEmpty)
    (lines.head.split(",", -1).toSeq, lines.tail.map(_.split(",", -1)).toSeq)
  }

  /** Mismatches between a job's two output directories and `want`
    * (empty when the outputs are right). */
  def check(jobDir: Path, want: Report): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val (h, rows) = readCsv(jobDir.resolve("daily_returns"))
    if (h != want.header) errs += s"daily_returns header ${h.take(4)}…"
    if (rows.size != want.dates.size) errs += s"daily_returns rows ${rows.size} != ${want.dates.size}"
    else rows.zipWithIndex.foreach { case (r, k) =>
      val n = want.prices(k).length
      val ok = r.length == 1 + 2 * n && r(0) == want.dates(k) &&
        (0 until n).forall(a => close(r(1 + a), Some(want.prices(k)(a)))) &&
        (0 until n).forall(a => close(r(1 + n + a), want.returns(k)(a)))
      if (!ok) errs += s"daily_returns row $k (${want.dates(k)}) differs"
    }
    val (ah, arows) = readCsv(jobDir.resolve("average_daily_return"))
    if (ah != want.avgHeader) errs += s"average header ${ah.take(3)}…"
    else if (arows.size != 1 || !arows.head.indices.forall(i => close(arows.head(i), want.averages(i))))
      errs += "average_daily_return differs"
    errs.result().take(3)
  }
}
