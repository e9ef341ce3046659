package perfbench

import java.time.{LocalDate, YearMonth}

import scala.collection.mutable

import Model._

/** Seeded, order-independent randomness: every draw is a pure function of
  * the seed and the draw's key, so a page, a store row and its expected
  * value agree no matter in which order they are generated. */
final class Seeded(seed: Long) {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(parts: Any*): Long =
    parts.foldLeft(mix(seed))((acc, p) => mix(acc ^ p.hashCode.toLong))
  def u(parts: Any*): Double = (h(parts: _*) >>> 11) * (1.0 / (1L << 53))
  def int(n: Int, parts: Any*): Int =
    java.lang.Math.floorMod(h(parts: _*), n.toLong).toInt
}

/** Input properties the ETL's behaviour depends on, drawn from the seed in
  * narrow bands so every seed does about the same amount of work. */
final case class Knobs(invalidShare: Double, staleShare: Double,
                       copyShare: Double, redeliverShare: Double,
                       legacyShare: Double)

object Knobs {
  def apply(g: Seeded): Knobs = Knobs(
    invalidShare = 0.04 + 0.03 * g.u("knob", "invalid"),
    staleShare = 0.03 + 0.03 * g.u("knob", "stale"),
    copyShare = 0.08 + 0.04 * g.u("knob", "copy"),
    redeliverShare = 0.15 + 0.10 * g.u("knob", "redeliver"),
    legacyShare = 0.20 + 0.10 * g.u("knob", "legacy"))
}

/** Expected rows per target table. */
final class Rows {
  val by: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Row]] =
    mutable.LinkedHashMap()
  def add(t: Table, r: Row): Unit = {
    require(r.size == t.cols.size, s"${t.name}: row width ${r.size}")
    by.getOrElseUpdate(t.name, mutable.ArrayBuffer()) += r
  }
  def apply(t: Table): Seq[Row] = by.getOrElse(t.name, Nil).toSeq
  def ++=(o: Rows): Unit = o.by.foreach { case (n, rs) =>
    by.getOrElseUpdate(n, mutable.ArrayBuffer()) ++= rs
  }
}

/** A generated document: file name, page text, and the rows the load
  * should take from it (empty when a gate should drop it). */
final case class Doc(file: String, kind: String, text: String, rows: Rows)

final class Gen(val seed: Long) {
  val g = new Seeded(seed)
  val knobs: Knobs = Knobs(g)

  // ------------------------------------------------------------- symbols

  def symbols(n: Int): Vector[String] = {
    val seen = mutable.LinkedHashSet[String]()
    var i = 0
    while (seen.size < n) {
      val len = 2 + g.int(3, "symlen", i)
      seen += (0 until len).map(j => ('A' + g.int(26, "sym", i, j)).toChar)
        .mkString
      i += 1
    }
    seen.toVector
  }

  /** Fiscal calendar: mostly calendar quarters; a few symbols end their
    * quarters one month later (fiscal year ending in January). */
  def fiscalOffset(s: String): Int = if (g.u("fiscal", s) < 0.9) 0 else 1
  private def fyMonth(s: String): Int = if (fiscalOffset(s) == 0) 12 else 1

  /** Month ends on or before `upTo` (newest first) whose month passes `ok`. */
  private def monthEnds(upTo: LocalDate, n: Int, ok: Int => Boolean)
      : Vector[LocalDate] = {
    var ym = YearMonth.from(upTo)
    val out = Vector.newBuilder[LocalDate]
    var k = 0
    while (k < n) {
      val e = ym.atEndOfMonth
      if (!e.isAfter(upTo) && ok(ym.getMonthValue)) { out += e; k += 1 }
      ym = ym.minusMonths(1)
    }
    out.result()
  }

  def quarterEnds(s: String, upTo: LocalDate, n: Int): Vector[LocalDate] = {
    val f = fiscalOffset(s)
    monthEnds(upTo, n, m => m % 3 == f)
  }

  def yearEnds(s: String, upTo: LocalDate, n: Int): Vector[LocalDate] = {
    val m0 = fyMonth(s)
    monthEnds(upTo, n, _ == m0)
  }

  /** First quarter end on or after `d`. */
  def quarterEndFrom(s: String, d: LocalDate): LocalDate =
    quarterEnds(s, YearMonth.from(d).plusMonths(2).atEndOfMonth, 1).head

  // ------------------------------------------------------------ page noise

  private val words = Vector("market", "quote", "price", "chart", "zacks",
    "rank", "premium", "screens", "portfolio", "research", "earnings",
    "industry", "sector", "growth", "value", "momentum", "dividend",
    "analyst", "estimate", "revision", "stocks", "funds", "report",
    "trade", "alert", "insight", "outlook", "broker", "consensus", "surprise")

  private def sentence(key: Any*): String =
    (0 until 6 + g.int(10, key :+ "n": _*))
      .map(i => words(g.int(words.size, key :+ i: _*))).mkString(" ")

  /** A pool of boilerplate blocks; pages pick a seeded handful, so bytes
    * per page land in the tens of KB without generating every byte. */
  private lazy val scripts: Vector[String] = Vector.tabulate(48) { i =>
    val lines = (0 until 20 + g.int(40, "scr", i)).map { j =>
      s"  window.zq_${i}_$j = function(a, b) { return a + '${sentence("js", i, j)}' + b; };"
    }
    lines.mkString("\n")
  }
  private lazy val navs: Vector[String] = Vector.tabulate(48) { i =>
    (0 until 15 + g.int(30, "nav", i)).map { j =>
      val w = sentence("nav", i, j)
      s"""<li class="nav_item"><a href="/${w.replace(' ', '-')}" title="$w">$w</a></li>"""
    }.mkString("<ul class=menu>\n", "\n", "\n</ul>")
  }
  private lazy val styles: Vector[String] = Vector.tabulate(16) { i =>
    (0 until 40).map(j =>
      s".z$i-$j { margin: ${j % 7}px; color: #${(i * 4099 + j * 131) % 0xffffff}; }")
      .mkString("\n")
  }

  private def head(title: String, key: Any*): String = {
    val k = key :+ "head"
    s"""<!DOCTYPE html>
       |<html lang="en"><head><meta charset="utf-8">
       |<title>$title</title>
       |<link rel="stylesheet" href="/css/zacks.css">
       |<style>${styles(g.int(styles.size, k :+ 0: _*))}</style>
       |<script type="text/javascript">
       |${scripts(g.int(scripts.size, k :+ 1: _*))}
       |${scripts(g.int(scripts.size, k :+ 2: _*))}
       |</script>
       |</head>""".stripMargin
  }

  private def chrome(key: Any*): (String, String) = {
    val k = key :+ "chrome"
    val top =
      s"""<!-- header: ${sentence(k :+ 0: _*)} -->
         |<div id="header"><nav>${navs(g.int(navs.size, k :+ 1: _*))}</nav></div>""".stripMargin
    val bottom =
      s"""<footer><p>${sentence(k :+ 2: _*)}</p>${navs(g.int(navs.size, k :+ 3: _*))}</footer>
         |<!-- ${sentence(k :+ 4: _*)} -->
         |<script>
         |${scripts(g.int(scripts.size, k :+ 5: _*))}
         |</script>""".stripMargin
    (top, bottom)
  }

  // ------------------------------------------------------- cell vocabulary

  /** The estimate-cell sanitizer the reference applies (F1). */
  def f1(raw: String): String = {
    val s1 = raw.trim.replace("T", "e12").replace("B", "e9")
    val s2 = if (s1 == "M") "NA" else s1
    s2.replace("M", "e6").replace("(", "").replace(")", "").replace(",", "")
  }

  private def dec2(x: Int): String = f"${x / 100}.${x % 100}%02d"

  private def salesText(key: Any*): String = {
    val x = g.u(key :+ "p": _*)
    val v = g.int(99999, key :+ "v": _*) + 1
    if (x < 0.05) "NA"
    else if (x < 0.55) s"${dec2(v % 9999 + 1)}B"
    else if (x < 0.95) s"${v / 10}.${v % 10}M"
    else "M"
  }

  private def epsText(key: Any*): String = {
    val x = g.u(key :+ "p": _*)
    val v = g.int(2000, key :+ "v": _*)
    if (x < 0.05) "NA"
    else if (x < 0.12) s"(${dec2(v)})"
    else if (x < 0.25) s"-${dec2(v)}"
    else dec2(v)
  }

  private def countText(key: Any*): String =
    if (g.u(key :+ "p": _*) < 0.05) "NA" else g.int(40, key :+ "v": _*).toString

  /** A statement cell: millions (or per-share) with commas, blanks and the
    * uncastable shapes "NA" and "(x)" the loads turn into nulls. */
  def stmtText(perShare: Boolean, key: Any*): String = {
    val x = g.u(key :+ "p": _*)
    if (x < 0.02) "NA"
    else if (x < 0.03) s"(${g.int(9999, key :+ "n": _*)}.5)"
    else if (perShare) {
      val v = g.int(3000, key :+ "v": _*)
      (if (x < 0.15) "-" else "") + dec2(v)
    } else {
      val v = g.int(999999, key :+ "v": _*) + 1
      val whole = v / 10
      val body =
        if (whole >= 1000 && x < 0.6) "%,d".formatLocal(java.util.Locale.US, whole)
        else whole.toString
      (if (x < 0.1) "-" else "") + s"$body.${v % 10}"
    }
  }

  private def stmtValue(text: String, entry: String): java.math.BigDecimal =
    moneyOf(text.trim.replace(",", ""), scale = !Unscaled(entry))

  // ------------------------------------------------------------- estimates

  val Periods: Seq[(String, String)] = Seq(
    "current-quarter" -> "Current Quarter", "next-quarter" -> "Next Quarter",
    "current-year" -> "Current Year", "next-year" -> "Next Year")

  private val ranks = Vector("Strong Buy", "Buy", "Hold", "Sell", "Strong Sell")
  private val scores = Vector("A", "B", "C", "D", "F")

  private def header(d: LocalDate): String = s"(${d.getMonthValue}/${d.getYear})"

  /** Period-end dates of the four estimate periods and the four reported
    * quarters of a detailed-estimates page on `folder`. */
  def estimateDates(s: String, folder: LocalDate)
      : (Seq[LocalDate], Seq[LocalDate]) = {
    val cq = quarterEndFrom(s, folder)
    val cy = yearEnds(s, YearMonth.from(folder).plusMonths(11).atEndOfMonth, 1).head
    val per = Seq(cq, YearMonth.from(cq).plusMonths(3).atEndOfMonth, cy,
      YearMonth.from(cy).plusMonths(12).atEndOfMonth)
    val hist = (1 to 4).map(k => YearMonth.from(cq).minusMonths(3L * k).atEndOfMonth)
    (per, hist)
  }

  /** Estimate values of one (symbol, date): the raw cell texts per section
    * and the expected rows (ignoring the enum gate). */
  final case class EstModel(rank: Int, scoreIdx: Seq[Int],
                            cells: Map[(String, Int, Int), String],
                            per: Seq[LocalDate], hist: Seq[LocalDate],
                            rows: Rows)

  private val salesRows = Seq("consensus", "count", "high", "low", "year_ago")
  private val epsRows = Seq("consensus", "count", "recent", "high", "low",
    "year_ago")
  private val revRows = Seq("up_7", "up_30", "up_60", "down_7", "down_30",
    "down_60")

  def estModel(s: String, date: LocalDate): EstModel = {
    val (per, hist) = estimateDates(s, date)
    val k = Seq[Any](s, date, "page")
    val cells = mutable.Map[(String, Int, Int), String]()
    for (c <- 2 to 5) {
      salesRows.zipWithIndex.foreach { case (e, i) =>
        cells(("sales", i + 1, c)) =
          if (e == "count") countText(k :+ "sc" :+ c: _*)
          else salesText(k :+ "s" :+ e :+ c: _*)
      }
      epsRows.zipWithIndex.foreach { case (e, i) =>
        cells(("eps", i + 1, c)) =
          if (e == "count") countText(k :+ "ec" :+ c: _*)
          else epsText(k :+ "e" :+ e :+ c: _*)
      }
      revRows.zipWithIndex.foreach { case (e, i) =>
        cells(("rev", i + 1, c)) = countText(k :+ "r" :+ e :+ c: _*)
      }
      cells(("upside", 1, c)) = epsText(k :+ "u" :+ c: _*)
      // reported history is keyed by quarter, not by page: every page
      // repeats the same reported figures
      val q = hist(c - 2)
      cells(("surprise", 1, c)) = epsText(s, q, "rep")
      cells(("surprise", 2, c)) = epsText(s, q, "est")
    }
    def m(sec: String, r: Int, c: Int) = moneyOf(f1(cells((sec, r, c))), scale = false)
    def sh(sec: String, r: Int, c: Int) = smallOf(f1(cells((sec, r, c))))
    val rank = g.int(5, k :+ "rank": _*)
    val sc = (1 to 4).map(i => g.int(5, k :+ "score" :+ i: _*))
    val rows = new Rows
    rows.add(RankScore, Vector(s, date, ranks(rank)) ++ sc.map(scores))
    Periods.zipWithIndex.foreach { case ((_, label), i) =>
      val c = i + 2
      val ped = per(i)
      rows.add(SalesEstimate, Vector(s, date, label, ped, m("sales", 1, c),
        sh("sales", 2, c), m("sales", 3, c), m("sales", 4, c),
        m("sales", 5, c)))
      rows.add(EpsEstimate, Vector(s, date, label, ped, m("eps", 1, c),
        m("eps", 3, c), sh("eps", 2, c), m("eps", 4, c), m("eps", 5, c),
        m("eps", 6, c)))
      rows.add(EpsRevision, Vector(s, date, label, ped) ++
        (1 to 6).map(r => sh("rev", r, c)))
      rows.add(EpsPerception, Vector(s, date, label, ped, m("upside", 1, c)))
    }
    hist.zipWithIndex.foreach { case (q, i) =>
      rows.add(EpsHistory, Vector(s, q, m("surprise", 1, i + 2),
        m("surprise", 2, i + 2)))
    }
    EstModel(rank, sc, cells.toMap, per, hist, rows)
  }

  private def estTable(title: String, em: EstModel, sec: String,
                       labels: Seq[String], dates: Seq[LocalDate],
                       key: Any*): String = {
    val th = dates.map(d => s"<th>$title<br>${header(d)}</th>").mkString
    val body = labels.zipWithIndex.map { case (l, i) =>
      val tds = (2 to 5).map { c =>
        val v = em.cells((sec, i + 1, c))
        if (g.u(key :+ i :+ c: _*) < 0.5) s"""<td><span class="lbl">$l</span> $v</td>"""
        else s"<td class=num>$v</td>"
      }.mkString
      s"<tr><td class=alpha>$l$tds</tr>"
    }.mkString("\n")
    s"""<table class="estimates"><thead><tr><th>Period</th>$th</thead><tbody>
       |$body
       |</tbody></table>""".stripMargin
  }

  /** A detailed-estimates page (hero-era layout). `invalid` breaks the rank
    * or a style score so the enum gate drops the whole document. */
  def estimatesDoc(s: String, folder: LocalDate, invalid: Boolean): Doc = {
    val em = estModel(s, folder)
    val rankText =
      if (invalid && g.u(s, folder, "badwhich") < 0.5) "NA"
      else s"${em.rank + 1}-${ranks(em.rank)}"
    val sc = em.scoreIdx.map(scores).toVector
    val scoreTexts =
      if (invalid && rankText != "NA") sc.updated(g.int(4, s, "badscore"), "-")
      else sc
    val rankP = s"<p>\n  <span class=\"rank_chip\"></span>\n  $rankText\n</p>"
    val spans = scoreTexts.map(t => s"<span> $t </span>").mkString("<span> | </span>")
    val ribbon =
      s"""<section id="quote_ribbon_v2"><div><p class="last_price">$$${dec2(g.int(50000, s, "px"))}</p></div>
         |<div><div>$rankP</div><div><p>$spans</p></div></div></section>""".stripMargin
    val k = Seq[Any](s, folder, "est")
    val (top, bottom) = chrome(k: _*)
    val html =
      s"""${head(s"$s Detailed Estimates", k: _*)}
         |<body id="home">
         |$top
         |<div id="main_content">
         |<div id="left_content"><p>${sentence(k :+ "left": _*)}</p>${navs(g.int(navs.size, k :+ "ln": _*))}</div>
         |<div id="right_content">
         |<section class="quote_page_hero_section">$ribbon</section>
         |<section id="detailed_earnings_estimates">
         |${estTable("Sales", em, "sales", Seq("Zacks Consensus Estimate", "# of Estimates", "High Estimate", "Low Estimate", "Year ago Sales"), em.per, k :+ 1: _*)}
         |${estTable("EPS", em, "eps", Seq("Zacks Consensus Estimate", "# of Estimates", "Most Recent Consensus", "High Estimate", "Low Estimate", "Year ago EPS"), em.per, k :+ 2: _*)}
         |</section>
         |<section id="agreement_estimate">
         |${estTable("Revisions", em, "rev", Seq("Up Last 7 Days", "Up Last 30 Days", "Up Last 60 Days", "Down Last 7 Days", "Down Last 30 Days", "Down Last 60 Days"), em.per, k :+ 3: _*)}
         |</section>
         |<section id="quote_upside">${estTable("Upside", em, "upside", Seq("Most Accurate Estimate"), em.per, k :+ 4: _*)}</section>
         |<section id="surprised_reported">${estTable("Reported", em, "surprise", Seq("Reported", "Estimate"), em.hist, k :+ 5: _*)}</section>
         |</div></div>
         |$bottom
         |</body></html>""".stripMargin
    Doc(s"$s.detailed-estimates.html", "estimates", html,
      if (invalid) new Rows else em.rows)
  }

  // ------------------------------------------------------------ statements

  /** entry names of one statement table, by 1-based row (None = a label row
    * the loader skips). */
  private def rowsOf(names: Seq[String], skip: Set[Int] = Set.empty,
                     first: Int = 1): Seq[Option[String]] = {
    val it = names.iterator
    (1 until first).map(_ => None) ++
      Iterator.from(first).takeWhile(_ => it.hasNext).map(r =>
        if (skip(r)) None else Some(it.next())).toSeq
  }

  private val incomeT1 = rowsOf(IncomeFacts.take(15))
  private val incomeT2Annual = rowsOf(IncomeFacts.slice(15, 17))
  private val incomePerShare = rowsOf(IncomeFacts.drop(17))
  private val assetsT = rowsOf(AssetFacts, first = 2)
  private val liabT = rowsOf(LiabilityFacts)
  private val equityT = rowsOf(EquityFacts, skip = Set(9))
  private val cfOps = rowsOf(CashFlowFacts.take(11), first = 2)
  private val cfUse = rowsOf(CashFlowFacts.drop(11))

  /** The columns of one statement period: dates newest first, and per date
    * the raw cell text of every entry. */
  final case class Column(date: LocalDate, cells: Map[String, String])

  private def stmtColumns(s: String, kind: String, period: String,
                          dates: Seq[LocalDate], entries: Seq[String],
                          copyFirst: Boolean): Seq[Column] = {
    val cols = dates.map(d => Column(d, entries.map(e =>
      e -> stmtText(Unscaled(e), s, kind, period, d, e)).toMap))
    if (copyFirst && cols.size > 1) cols.head.copy(cells = cols(1).cells) +: cols.tail
    else cols
  }

  private def fmtDate(d: LocalDate, twoDigit: Boolean): String =
    if (twoDigit) f"${d.getMonthValue}/${d.getDayOfMonth}%02d/${d.getYear % 100}%02d"
    else f"${d.getMonthValue}/${d.getDayOfMonth}%02d/${d.getYear}"

  private def stmtTable(cols: Seq[Column], layout: Seq[Option[String]],
                        twoDigit: Boolean, key: Any*): String = {
    val th = cols.map(c => s"<th>${fmtDate(c.date, twoDigit)}</th>").mkString
    val body = layout.zipWithIndex.map { case (e, i) =>
      val label = e.getOrElse("section").replace('_', ' ')
      val tds = cols.map(c => s"<td>${e.map(c.cells).getOrElse("")}</td>").mkString
      s"<tr><td class=alpha>$label</td>$tds</tr>"
    }.mkString("\n")
    s"""<table class="statement" data-k="${g.int(1000, key: _*)}"><thead><tr><th>Items</th>$th</tr></thead><tbody>
       |$body
       |</tbody></table>""".stripMargin
  }

  private def page(title: String, inner: String, key: Any*): String = {
    val (top, bottom) = chrome(key: _*)
    s"""${head(title, key: _*)}
       |<body id=home>
       |$top
       |<div id="main_content"><div id="right_content">
       |$inner
       |</div></div>
       |$bottom
       |</body></html>""".stripMargin
  }

  private def stmtRows(t: Table, s: String, period: String, cols: Seq[Column],
                       entries: Seq[String], nulled: Set[String] = Set.empty)
      : Seq[Row] = cols.map { c =>
    Vector[Any](s, c.date, if (period == "annual") "Year" else "Quarter") ++
      entries.map(e => if (nulled(e)) null else stmtValue(c.cells(e), e))
  }

  /** Where one statement document sits in its symbol's history. */
  final case class StmtPlan(quarters: Seq[LocalDate], years: Seq[LocalDate],
                            stale: Boolean, copyQ: Boolean, copyY: Boolean,
                            realQ: Seq[LocalDate], realY: Seq[LocalDate])

  /** Dates a statement page on `folder` shows, with the seeded stale and
    * prior-period-copy decisions for (symbol, kind). */
  def stmtPlan(s: String, kind: String, folder: LocalDate): StmtPlan = {
    val lag = 16 + g.int(60, s, "lag")
    val q = quarterEnds(s, folder.minusDays(lag.toLong), 5)
    val y = yearEnds(s, q.head, 5)
    val stale = g.u(s, kind, folder, "stale") < knobs.staleShare
    val fresh = folder.minusDays(g.int(16, s, kind, folder, "staleby").toLong)
    StmtPlan(
      if (stale) fresh +: q.tail else q,
      if (stale && kind == "cash-flow") fresh +: y.tail else y,
      stale,
      g.u(s, kind, folder, "copyq") < knobs.copyShare,
      g.u(s, kind, folder, "copyy") < knobs.copyShare, q, y)
  }

  /** An income-statement page (2-digit-year headers). */
  def incomeDoc(s: String, folder: LocalDate): Doc = {
    val p = stmtPlan(s, "income", folder)
    val k = Seq[Any](s, folder, "inc")
    val a = stmtColumns(s, "income", "annual", p.years, IncomeFacts, p.copyY)
    val q = stmtColumns(s, "income", "quarterly", p.quarters, IncomeFacts, p.copyQ)
    val inner =
      s"""<div id="annual_income_statement">
         |${stmtTable(a, incomeT1, twoDigit = true, k :+ 1: _*)}
         |${stmtTable(a, incomeT2Annual, twoDigit = true, k :+ 2: _*)}
         |${stmtTable(a, incomePerShare, twoDigit = true, k :+ 3: _*)}
         |</div>
         |<div id="quarterly_income_statement">
         |${stmtTable(q, incomeT1, twoDigit = true, k :+ 4: _*)}
         |${stmtTable(q, incomePerShare, twoDigit = true, k :+ 5: _*)}
         |</div>""".stripMargin
    val rows = new Rows
    if (!isStale(folder, q.head.date)) {
      stmtRows(Income, s, "annual", a, IncomeFacts).foreach(rows.add(Income, _))
      stmtRows(Income, s, "quarterly", q, IncomeFacts, NullSafeIncome)
        .foreach(rows.add(Income, _))
    }
    Doc(s"$s.income-statement.html", "income", page(s"$s Income Statement", inner, k: _*),
      rows)
  }

  /** A balance-sheet page: three target tables from one document. */
  def balanceDoc(s: String, folder: LocalDate): Doc = {
    val p = stmtPlan(s, "balance", folder)
    val k = Seq[Any](s, folder, "bal")
    val all = AssetFacts ++ LiabilityFacts ++ EquityFacts
    val a = stmtColumns(s, "balance", "annual", p.years, all, p.copyY)
    val q = stmtColumns(s, "balance", "quarterly", p.quarters, all, p.copyQ)
    def div(name: String, cols: Seq[Column], j: Int) =
      s"""<div id="${name}_income_statement">
         |${stmtTable(cols, assetsT, twoDigit = false, k :+ j: _*)}
         |${stmtTable(cols, liabT, twoDigit = false, k :+ (j + 1): _*)}
         |${stmtTable(cols, equityT, twoDigit = false, k :+ (j + 2): _*)}
         |</div>""".stripMargin
    val rows = new Rows
    if (!isStale(folder, q.head.date)) Seq(Assets -> AssetFacts, Liabilities -> LiabilityFacts,
      Equity -> EquityFacts).foreach { case (t, es) =>
      (stmtRows(t, s, "annual", a, es) ++ stmtRows(t, s, "quarterly", q, es))
        .foreach(rows.add(t, _))
    }
    Doc(s"$s.balance-sheet.html", "balance",
      page(s"$s Balance Sheet", div("annual", a, 1) + "\n" + div("quarterly", q, 4), k: _*),
      rows)
  }

  /** Whether a symbol's cash-flow page still has the pre-2024 layout. */
  def legacyCashFlow(s: String): Boolean = g.u(s, "cf-era") < knobs.legacyShare

  /** A cash-flow page in the 2024 layout (both periods) or the legacy
    * layout (annual only). */
  def cashFlowDoc(s: String, folder: LocalDate, legacy: Boolean): Doc = {
    val p = stmtPlan(s, "cash-flow", folder)
    val k = Seq[Any](s, folder, "cf")
    val a = stmtColumns(s, "cash-flow", "annual", p.years, CashFlowFacts, p.copyY)
    val inner =
      if (legacy)
        s"""<section id="cash_flow_operation">${stmtTable(a, cfOps, twoDigit = false, k :+ 1: _*)}</section>
           |<section id="cash_flow_use">${stmtTable(a, cfUse, twoDigit = false, k :+ 2: _*)}</section>""".stripMargin
      else {
        val q = stmtColumns(s, "cash-flow", "quarterly", p.quarters, CashFlowFacts, p.copyQ)
        Seq("annual" -> a, "quarterly" -> q).zipWithIndex.map { case ((n, cols), j) =>
          s"""<div id="${n}_cash_flow_statement">
             |<div>${stmtTable(cols, cfOps, twoDigit = false, k :+ (j * 2): _*)}</div>
             |<div>${stmtTable(cols, cfUse, twoDigit = false, k :+ (j * 2 + 1): _*)}</div>
             |</div>""".stripMargin
        }.mkString("\n")
      }
    val rows = new Rows
    if (!isStale(folder, a.head.date)) {
      stmtRows(CashFlow, s, "annual", a, CashFlowFacts).foreach(rows.add(CashFlow, _))
      if (!legacy) stmtRows(CashFlow, s, "quarterly",
        stmtColumns(s, "cash-flow", "quarterly", p.quarters, CashFlowFacts, p.copyQ),
        CashFlowFacts).foreach(rows.add(CashFlow, _))
    }
    Doc(s"$s.cash-flow-statement.html", if (legacy) "cash_flow_legacy" else "cash_flow_2024",
      page(s"$s Cash Flow Statements", inner, k: _*), rows)
  }

  /** Stored statement history of a symbol: the periods before the page's
    * newest column (and, for `withLatest`, that column too), `back` deep,
    * with the same values the pages show. */
  def storedStatements(s: String, folder: LocalDate, legacy: Boolean,
                       back: Int, withLatest: Boolean): Rows = {
    val rows = new Rows
    def hist(kind: String, period: String, dates: Seq[LocalDate],
             t: Table, entries: Seq[String], all: Seq[String],
             nulled: Set[String] = Set.empty): Unit = {
      val ds = if (withLatest) dates else dates.tail
      val cols = ds.map(d => Column(d, all.map(e =>
        e -> stmtText(Unscaled(e), s, kind, period, d, e)).toMap))
      stmtRows(t, s, period, cols, entries, nulled).foreach(rows.add(t, _))
    }
    Seq("income" -> Seq(Income), "balance" -> BalanceTables,
      "cash-flow" -> Seq(CashFlow)).foreach { case (kind, ts) =>
      val p = stmtPlan(s, kind, folder)
      val qs = p.realQ ++ quarterEnds(s, p.realQ.last, back + 1).tail
      val ys = p.realY ++ yearEnds(s, p.realY.last, back / 4 + 1).tail
      val all = kind match {
        case "income" => IncomeFacts
        case "balance" => AssetFacts ++ LiabilityFacts ++ EquityFacts
        case _ => CashFlowFacts
      }
      ts.foreach { t =>
        val es = t.names.drop(3)
        hist(kind, "annual", ys, t, es, all)
        if (!(kind == "cash-flow" && legacy))
          hist(kind, "quarterly", qs, t, es, all,
            if (t == Income) NullSafeIncome else Set.empty)
      }
    }
    rows
  }

  // ------------------------------------------------------------- calendars

  private def symbolCell(s: String): String =
    s"""<a href=\\"/stock/quote/$s\\" class=\\"hoverquote\\">$s</a>"""
  private def companyCell(s: String): String =
    s"""<span title=\\"$s Holdings\\">${s.toLowerCase.capitalize} Holdings Inc</span><div class=\\"qq\\">$s Quick Quote</div>"""

  /** A calendar payload file: the JSON wrapped in the JS prefix and HTML
    * noise the loader strips. */
  def payload(rows: Seq[Seq[String]]): String = {
    val data = rows.map(_.map(c => "\"" + c + "\"").mkString("[", ",", "]"))
      .mkString("[", ",\n", "]")
    s"""window.app_data = {"columns":["Symbol","Company","Time","Code"],"data":$data}"""
  }

  def earningsEntry(s: String, when: String): Seq[String] =
    Seq(symbolCell(s), companyCell(s), "<span>--</span>", when,
      s"${dec2(g.int(300, s, when))}", "--", "<a href=\\\"#\\\">details</a>")

  def dividendEntry(s: String, amount: String, ex: LocalDate,
                    payable: Option[LocalDate]): Seq[String] =
    Seq(symbolCell(s), companyCell(s), "<span>1.2B</span>", "$" + amount,
      "1.5%", ex.toString, ex.plusDays(1).toString,
      payable.map(_.toString).getOrElse("--"))
}
