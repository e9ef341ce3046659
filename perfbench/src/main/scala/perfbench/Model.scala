package perfbench

import java.time.LocalDate
import java.util.zip.CRC32

/** The benchmark's own statement of the ETL's output contract: target
  * tables, their column types, and the load rules (P6, J1, K1, K4, K5, J2)
  * over plain in-memory rows. The generator runs these rules on the values
  * it wrote to derive every expected output; nothing here calls the
  * program's pipelines, so a program change cannot move the expectation
  * with it.
  */
object Model {

  sealed trait Kind
  case object Str extends Kind
  case object Day extends Kind
  case object Money extends Kind
  case object Small extends Kind

  final case class Table(name: String, cols: Seq[(String, Kind)],
                         pk: Seq[String], partCol: String) {
    val names: Seq[String] = cols.map(_._1)
    def idx(c: String): Int = names.indexOf(c)
    lazy val pkIdx: Seq[Int] = pk.map(idx)
    def key(r: Row): Seq[Any] = pkIdx.map(r(_))
  }

  /** One typed row in table column order: String, LocalDate,
    * java.math.BigDecimal (scale 4), java.lang.Short or null. */
  type Row = Vector[Any]

  private def money(ns: String*) = ns.map(_ -> (Money: Kind))
  private def small(ns: String*) = ns.map(_ -> (Small: Kind))
  private val symDatePer = Seq("act_symbol" -> Str, "date" -> Day,
    "period" -> Str)
  private val estKey = symDatePer :+ ("period_end_date" -> Day)

  val IncomeFacts: Seq[String] = Seq("sales", "cost_of_goods", "gross_profit",
    "selling_administrative_depreciation_amortization_expenses",
    "income_after_depreciation_and_amortization", "non_operating_income",
    "interest_expense", "pretax_income", "income_taxes", "minority_interest",
    "investment_gains", "other_income", "income_from_continuing_operations",
    "extras_and_discontinued_operations", "net_income",
    "income_before_depreciation_and_amortization",
    "depreciation_and_amortization", "average_shares",
    "diluted_eps_before_non_recurring_items", "diluted_net_eps")
  val AssetFacts: Seq[String] = Seq("cash_and_equivalents", "receivables",
    "notes_receivable", "inventories", "other_current_assets",
    "total_current_assets", "net_property_and_equipment",
    "investments_and_advances", "other_non_current_assets",
    "deferred_charges", "intangibles", "deposits_and_other_assets",
    "total_assets")
  val LiabilityFacts: Seq[String] = Seq("notes_payable", "accounts_payable",
    "current_portion_long_term_debt", "current_portion_capital_leases",
    "accrued_expenses", "income_taxes_payable", "other_current_liabilities",
    "total_current_liabilities", "mortgages", "deferred_taxes_or_income",
    "convertible_debt", "long_term_debt", "non_current_capital_leases",
    "other_non_current_liabilities", "minority_interest", "total_liabilities")
  val EquityFacts: Seq[String] = Seq("preferred_stock", "common_stock",
    "capital_surplus", "retained_earnings", "other_equity", "treasury_stock",
    "total_equity", "total_liabilities_and_equity", "shares_outstanding",
    "book_value_per_share")
  val CashFlowFacts: Seq[String] = Seq("net_income",
    "depreciation_amortization_and_depletion", "net_change_from_assets",
    "net_cash_from_discontinued_operations", "other_operating_activities",
    "net_cash_from_operating_activities", "property_and_equipment",
    "acquisition_of_subsidiaries", "investments",
    "other_investing_activities", "net_cash_from_investing_activities",
    "issuance_of_capital_stock", "issuance_of_debt",
    "increase_short_term_debt",
    "payment_of_dividends_and_other_distributions",
    "other_financing_activities", "net_cash_from_financing_activities",
    "effect_of_exchange_rate_changes", "net_change_in_cash_and_equivalents",
    "cash_at_beginning_of_period", "cash_at_end_of_period",
    "diluted_net_eps")

  /** Statement facts shown as-is; every other statement fact is in
    * millions and loads ×1e6. */
  val Unscaled: Set[String] = Set("diluted_eps_before_non_recurring_items",
    "diluted_net_eps", "book_value_per_share")

  /** Income facts compared null-safely by the J1 guard. */
  val NullSafeIncome: Set[String] = Set(
    "income_before_depreciation_and_amortization",
    "depreciation_and_amortization")

  private val stmtPk = Seq("act_symbol", "date", "period")
  private val estPk = Seq("date", "act_symbol", "period")

  val RankScore: Table = Table("rank_score", Seq("act_symbol" -> Str,
    "date" -> Day, "rank" -> Str, "value" -> Str, "growth" -> Str,
    "momentum" -> Str, "vgm" -> Str), Seq("date", "act_symbol"), "date")
  val SalesEstimate: Table = Table("sales_estimate", estKey ++
    money("consensus") ++ small("count") ++ money("high", "low", "year_ago"),
    estPk, "date")
  val EpsEstimate: Table = Table("eps_estimate", estKey ++
    money("consensus", "recent") ++ small("count") ++
    money("high", "low", "year_ago"), estPk, "date")
  val EpsRevision: Table = Table("eps_revision", estKey ++
    small("up_7", "up_30", "up_60", "down_7", "down_30", "down_60"),
    estPk, "date")
  val EpsPerception: Table = Table("eps_perception",
    estKey ++ money("most_accurate"), estPk, "date")
  val EpsHistory: Table = Table("eps_history", Seq("act_symbol" -> Str,
    "period_end_date" -> Day) ++ money("reported", "estimate"),
    Seq("act_symbol", "period_end_date"), "period_end_date")
  val Income: Table = Table("income_statement",
    symDatePer ++ money(IncomeFacts: _*), stmtPk, "date")
  val Assets: Table = Table("balance_sheet_assets",
    symDatePer ++ money(AssetFacts: _*), stmtPk, "date")
  val Liabilities: Table = Table("balance_sheet_liabilities",
    symDatePer ++ money(LiabilityFacts: _*), stmtPk, "date")
  val Equity: Table = Table("balance_sheet_equity",
    symDatePer ++ money(EquityFacts: _*), stmtPk, "date")
  val CashFlow: Table = Table("cash_flow_statement",
    symDatePer ++ money(CashFlowFacts: _*), stmtPk, "date")
  val Earnings: Table = Table("earnings_calendar", Seq("act_symbol" -> Str,
    "date" -> Day, "when" -> Str), Seq("act_symbol", "date"), "date")
  val Dividends: Table = Table("dividend_calendar", Seq("act_symbol" -> Str,
    "ex_date" -> Day, "amount" -> Money, "payable_date" -> Day),
    Seq("act_symbol", "ex_date"), "ex_date")

  val EstimateTables: Seq[Table] = Seq(RankScore, SalesEstimate, EpsEstimate,
    EpsRevision, EpsPerception, EpsHistory)
  val BalanceTables: Seq[Table] = Seq(Assets, Liabilities, Equity)
  val StatementTables: Seq[Table] = Income +: BalanceTables :+ CashFlow

  val byName: Map[String, Table] =
    (EstimateTables ++ StatementTables :+ Earnings :+ Dividends)
      .map(t => t.name -> t).toMap

  // ------------------------------------------------------------ rendering

  /** A value as Spark's `cast(_ as string)` renders it; null as `nullText`. */
  def render(v: Any, nullText: String): String = v match {
    case null => nullText
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** The digest line of a stored row: columns in table order, `|`-joined,
    * null as `\N`. */
  def storeLine(r: Row): String = r.map(render(_, "\\N")).mkString("|")

  /** The line the CSV export writes for a row: null as the empty field. */
  def csvLine(t: Table, r: Row): String = r.map(render(_, "")).mkString(",")

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  /** Order-independent digest of a row set: count and sum of line CRC32s. */
  final case class Digest(rows: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  }
  object Digest { val empty: Digest = Digest(0, 0) }

  def digest(lines: Iterable[String]): Digest =
    lines.foldLeft(Digest.empty)((d, l) => Digest(d.rows + 1, d.sum + crc(l)))

  // ---------------------------------------------------------- value casts

  /** `try_cast(text AS double)` then `CAST(_ AS decimal(38,4))`, optionally
    * ×1e6 in between, the way the pipelines type a cell. Non-numeric text
    * and "NA" give null. */
  def moneyOf(text: String, scale: Boolean): java.math.BigDecimal =
    if (text == null || text == "NA" || text.isEmpty) null
    else {
      val d = try java.lang.Double.parseDouble(text)
      catch { case _: NumberFormatException => Double.NaN }
      if (d.isNaN || text.exists(c => c == '(' || c == ')')) null
      else {
        val v = if (scale) d * 1e6 else d
        new java.math.BigDecimal(java.lang.Double.toString(v))
          .setScale(4, java.math.RoundingMode.HALF_UP)
      }
    }

  def smallOf(text: String): java.lang.Short =
    if (text == null || !text.forall(_.isDigit) || text.isEmpty) null
    else java.lang.Short.valueOf(text.toShort)

  // ------------------------------------------------------------ the rules

  def isStale(folder: LocalDate, mostRecent: LocalDate): Boolean =
    java.time.temporal.ChronoUnit.DAYS.between(mostRecent, folder) <= 15

  /** Month arithmetic with end-of-month clamping (Spark `add_months`). */
  def addMonths(d: LocalDate, n: Int): LocalDate = d.plusMonths(n.toLong)

  def priorYear(d: LocalDate): LocalDate = addMonths(d, -12)
  def priorQuarter(d: LocalDate): LocalDate =
    addMonths(d.plusDays(1), -3).minusDays(1)
  def nextQuarterEnd(d: LocalDate): LocalDate =
    addMonths(d.plusDays(1), 3).minusDays(1)

  /** K1: existing rows win; a key already stored is skipped. */
  def dedupAppend(t: Table, existing: Seq[Row], incoming: Seq[Row]): Seq[Row] = {
    val keys = existing.iterator.map(t.key).toSet
    val seen = scala.collection.mutable.HashSet[Seq[Any]]()
    existing ++ incoming.filter { r =>
      val k = t.key(r)
      !keys.contains(k) && seen.add(k)
    }
  }

  /** J1: drop an incoming statement row whose stored row one period back
    * carries identical non-null facts (null-safe for `nullSafe`). */
  def priorPeriodGuard(t: Table, existing: Seq[Row], incoming: Seq[Row],
                       nullSafe: Set[String]): Seq[Row] = {
    val (iSym, iDate, iPer) = (t.idx("act_symbol"), t.idx("date"),
      t.idx("period"))
    val facts = t.names.indices.filterNot(Set(iSym, iDate, iPer))
    val stored = existing.iterator.map(r => (r(iSym), r(iDate), r(iPer)) -> r)
      .toMap
    incoming.filter { r =>
      val d = r(iDate).asInstanceOf[LocalDate]
      val prior = if (r(iPer) == "Year") priorYear(d) else priorQuarter(d)
      stored.get((r(iSym), prior, r(iPer))) match {
        case None => true
        case Some(p) => !facts.forall { i =>
          if (nullSafe(t.names(i))) r(i) == p(i)
          else r(i) != null && p(i) != null && r(i) == p(i)
        }
      }
    }
  }

  /** K4 + K5 + K1 for a calendar: retract the stored future slice, retract
    * stored rows of a symbol within the week before a fresh row, then
    * append the fresh rows. */
  def calendarLoad(t: Table, existing: Seq[Row], fresh: Seq[Row],
                   folder: LocalDate): Seq[Row] = {
    val (iSym, iDate) = (t.idx("act_symbol"), t.idx(t.pk(1)))
    val freshBySym = fresh.groupBy(_(iSym))
      .map { case (s, rs) => s -> rs.map(_(iDate).asInstanceOf[LocalDate]) }
    val retracted = existing.filter { r =>
      val d = r(iDate).asInstanceOf[LocalDate]
      d.isBefore(folder) && !freshBySym.getOrElse(r(iSym), Nil).exists(f =>
        !d.isBefore(f.minusDays(7)) && d.isBefore(f))
    }
    dedupAppend(t, retracted, fresh)
  }

  /** J2: inside every (symbol, statement date) quarter window, and the
    * projected next one, keep only the newest calendar row. */
  def supersededCleanup(calendar: Seq[Row],
                        stmtDates: Seq[(String, LocalDate)]): Seq[Row] = {
    val windows = stmtDates.groupBy(_._1).map { case (s, ds) =>
      val dates = ds.map(_._2).distinct
      s -> (dates :+ nextQuarterEnd(dates.maxBy(_.toEpochDay))).distinct
    }
    val cal = calendar.groupBy(_(0).asInstanceOf[String])
    val victims = scala.collection.mutable.HashSet[(String, LocalDate)]()
    cal.foreach { case (s, rows) =>
      val dates = rows.map(_(1).asInstanceOf[LocalDate])
      windows.getOrElse(s, Nil).foreach { w =>
        val end = nextQuarterEnd(w)
        val in = dates.filter(d => d.isAfter(w) && !d.isAfter(end))
        if (in.size > 1) {
          val newest = in.maxBy(_.toEpochDay)
          in.filter(_ != newest).foreach(d => victims += (s -> d))
        }
      }
    }
    calendar.filterNot(r =>
      victims((r(0).asInstanceOf[String], r(1).asInstanceOf[LocalDate])))
  }
}
