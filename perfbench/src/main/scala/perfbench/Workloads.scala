package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row => SRow, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.export.CsvExport
import graft.extract.CalendarExtract
import graft.functions.DateFns
import graft.operators.LoadOps
import graft.pipelines.{CalendarPipeline, EstimatesPipeline, StatementsPipeline}
import graft.sinks.SnapshotStore
import graft.sources.RawZone
import Model._

/** One benchmark workload. A batch is the unit `wall_s` times: the runner
  * calls [[batch]] (timed), then [[check]] and [[footprint]] (untimed), and
  * [[advance]] to move to the next batch. A traced batch redoes the same
  * batch with every layer's output materialised inside its own span. */
abstract class Workload(val spark: SparkSession, val gen: Gen,
                        val work: Path, val tr: Tracer) {
  def name: String
  def warmups: Int
  /** Generate inputs and the prior store. */
  def setup(): Unit
  def batch(traced: Boolean): Unit
  def check(): Seq[String]
  /** Data files and bytes the last batch wrote. */
  def footprint(): (Long, Long)
  /** Output rows of the current batch (as the check verifies them). */
  def outRows: Long
  def advance(): Unit = ()
  /** Untimed preparation of the current batch: clear its output. */
  def before(): Unit = deleteTree(outDir)
  protected def outDir: Path
  /** CSV files and bytes the last batch exported. */
  def exportFootprint(): (Long, Long) = (0L, 0L)
  /** Input size of one batch: files, bytes, rows. */
  def inputs: (Long, Long, Long)

  private var lapT = System.nanoTime()
  /** Log the time since the previous lap (set-up phases). */
  protected def lap(label: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name set-up: $label ${(now - lapT) / 1e9}%.2f s")
    lapT = now
  }

  /** Counts a traced batch records next to its spans. */
  val counts: mutable.Map[String, Double] = mutable.Map()
  protected def cnt(k: String, v: Double): Unit =
    counts(k) = counts.getOrElse(k, 0.0) + v

  private val pinned = new java.util.IdentityHashMap[DataFrame, Long]()
  /** Materialise a layer's output (traced runs only) and keep its count. */
  protected def pin(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    pinned.put(p, n)
    (p, n)
  }
  /** Row count of a pinned frame. */
  protected def n(df: DataFrame): Long = pinned.get(df)
  protected def pinAll(dfs: Map[String, DataFrame]): Map[String, DataFrame] =
    dfs.map { case (k, df) => k -> pin(df)._1 }
  def release(): Unit = {
    pinned.keySet().forEach(_.unpersist(true))
    pinned.clear()
    counts.clear()
  }

  protected def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  protected def p(parts: String*): String =
    parts.foldLeft(work)((b, x) => b.resolve(x)).toString

  protected def writeFile(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  protected def sparkType(k: Kind): DataType = k match {
    case Str => StringType
    case Day => DateType
    case Money => DecimalType(38, 4)
    case Small => ShortType
  }

  protected def frame(t: Table, rows: Seq[Row]): DataFrame = {
    val schema = StructType(t.cols.map { case (n, k) =>
      StructField(n, sparkType(k), nullable = true)
    })
    val data = rows.map(r => SRow.fromSeq(r.map {
      case d: LocalDate => java.sql.Date.valueOf(d)
      case v => v
    }))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  /** Write generated rows as a stored table; each date goes to one of the
    * session's tasks, so the files are written in parallel. */
  protected def store(t: Table, rows: Seq[Row], path: String): Unit =
    SnapshotStore.write(frame(t, rows).repartition(col(t.partCol)), path,
      t.partCol)

  protected def read(t: Table, base: String): DataFrame =
    SnapshotStore.read(spark, s"$base/${t.name}")

  protected def digests(tables: Seq[Table], rows: Table => Seq[Row])
      : Map[String, Digest] =
    tables.map(t => t.name -> digest(rows(t).map(storeLine))).toMap

  // ------------------------------------------------ shared statement steps

  /** The distributed parse with its gates: statement documents that
    * survive P6 and yield rows, counted through the public pipeline calls. */
  protected def statementDocsOk(docs: Map[String, DataFrame]): Long = {
    def syms(df: DataFrame) = df.select("act_symbol").distinct().count()
    syms(StatementsPipeline.incomeStatement(docs("income-statement"))) +
      syms(StatementsPipeline.balanceSheet(docs("balance-sheet"), pin = false)(
        Assets.name)) +
      syms(StatementsPipeline.cashFlow(docs("cash-flow-statement"), layout2024 = true)) +
      docs.get(LegacyCashFlow).map(d =>
        syms(StatementsPipeline.cashFlow(d, layout2024 = false))).getOrElse(0L)
  }

  protected val StatementKinds: Seq[String] =
    Seq("income-statement", "balance-sheet", "cash-flow-statement")

  /** Key of the legacy-layout cash-flow scan, when a workload has one. */
  protected val LegacyCashFlow = "cash-flow-statement-legacy"

  /** Statement rows per target table, via the program's pipelines. Each
    * cash-flow layout goes through its own parser, as the reference picks
    * the loader by layout era. */
  protected def statementRows(docs: Map[String, DataFrame])
      : Map[String, DataFrame] = {
    val cf2024 = StatementsPipeline.cashFlow(docs("cash-flow-statement"),
      layout2024 = true)
    val cf = docs.get(LegacyCashFlow).map(d => cf2024.unionByName(
      StatementsPipeline.cashFlow(d, layout2024 = false))).getOrElse(cf2024)
    Map(Income.name -> StatementsPipeline.incomeStatement(
      docs("income-statement"))) ++
      StatementsPipeline.balanceSheet(docs("balance-sheet")) +
      (CashFlow.name -> cf)
  }

  /** J1 + K1 of every statement table, the way the pipelines compose them. */
  protected def loadStatements(ex: Map[String, DataFrame],
                               rows: Map[String, DataFrame])
      : Map[String, DataFrame] =
    StatementTables.map { t =>
      t.name -> (if (t == Income)
        StatementsPipeline.loadIncomeRows(ex(t.name), rows(t.name))
      else StatementsPipeline.loadStatement(ex(t.name), rows(t.name), t.name))
    }.toMap

  /** The traced form of [[loadStatements]]: J1 and K1 as separate spans. */
  protected def tracedStatementLoads(ex: Map[String, DataFrame],
                                     rows: Map[String, DataFrame])
      : Map[String, DataFrame] = {
    val guarded = tr.span("operators.guard") {
      StatementTables.map { t =>
        val ns = if (t == Income) NullSafeIncome.toSeq else Nil
        val facts = t.names.drop(3).filterNot(ns.contains)
        t.name -> pin(LoadOps.priorPeriodGuard(ex(t.name), rows(t.name),
          facts, ns))._1
      }.toMap
    }
    tracedAppend(ex, guarded, StatementTables)
  }

  protected def tracedAppend(ex: Map[String, DataFrame],
                             fresh: Map[String, DataFrame],
                             tables: Seq[Table]): Map[String, DataFrame] =
    tr.span("operators.append") {
      tables.map { t =>
        val (d, rows) = pin(LoadOps.dedupAppend(ex(t.name), fresh(t.name), t.pk))
        cnt("operators.rows_in", n(fresh(t.name)).toDouble)
        cnt("operators.rows_kept", (rows - n(ex(t.name))).toDouble)
        cnt("operators.store_rows", rows.toDouble)
        t.name -> d
      }.toMap
    }

  protected def writeAll(out: Map[String, DataFrame], base: String): Unit =
    out.foreach { case (n, df) =>
      SnapshotStore.write(df, s"$base/$n", byName(n).partCol)
    }
}

object Workload {
  def apply(name: String, spark: SparkSession, gen: Gen, work: Path,
            tr: Tracer): Workload = name match {
    case "full_refresh" => new FullRefresh(spark, gen, work, tr)
    case "daily_incremental" => new DailyIncremental(spark, gen, work, tr)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("full_refresh", "daily_incremental")
}

/** The weekly sweep: one folder date of pages for the whole universe
  * (estimates, income, balance, and cash flow in both layout eras) loaded
  * against the prior snapshot, written as the new snapshot, and the
  * same-day estimates dumped to per-date CSV. The first batch loads the
  * previous quarter's folder into an empty store; its output is the prior
  * snapshot every later batch loads against. */
final class FullRefresh(spark: SparkSession, gen: Gen, work: Path, tr: Tracer)
    extends Workload(spark, gen, work, tr) {
  val name = "full_refresh"
  // the load into the empty store; the batch after it repeats within a few
  // percent from run to run, the third varies with when C2 catches up
  val warmups = 1
  val Symbols = 80
  private val tables = EstimateTables ++ StatementTables
  private val Kinds = Seq("detailed-estimates") ++ StatementKinds :+ LegacyCashFlow

  /** One load: its folder, the store it reads (None: empty), where it
    * writes, and what the check expects there. */
  private final case class Pass(folder: LocalDate, from: Option[String],
                                to: String, store: Map[String, Digest],
                                dump: Map[(String, String), Digest],
                                rows: Long, inputs: (Long, Long, Long))
  private var passes = Vector[Pass]()
  private def pass: Pass = passes.head
  override def advance(): Unit = if (passes.size > 1) passes = passes.tail

  private def pages(f: LocalDate, syms: Seq[String]): (Rows, Long, Long) = {
    val incoming = new Rows
    var bytes = 0L
    syms.foreach { s =>
      Seq(gen.estimatesDoc(s, f, gen.g.u(s, f, "invalid") < gen.knobs.invalidShare),
        gen.incomeDoc(s, f), gen.balanceDoc(s, f),
        gen.cashFlowDoc(s, f, gen.legacyCashFlow(s))).foreach { d =>
        val base = if (d.kind == "cash_flow_legacy") "raw-legacy" else "raw"
        bytes += writeFile(work.resolve(base).resolve(f.toString).resolve(d.file), d.text)
        incoming ++= d.rows
      }
    }
    (incoming, syms.size * 4L, bytes)
  }

  /** The reference lookbacks of the estimates dump: same day, and six
    * months of reported quarters. */
  private def dumped(t: Table, f: LocalDate, d: LocalDate): Boolean =
    if (t == EpsHistory) !d.isBefore(f.minusMonths(6)) else d == f

  private def expect(f: LocalDate, from: Option[String], to: String,
                     existing: Table => Seq[Row], in: (Rows, Long, Long))
      : (Pass, Map[String, Seq[Row]]) = {
    val (incoming, files, bytes) = in
    val out = tables.map { t =>
      val guarded = if (StatementTables.contains(t))
        priorPeriodGuard(t, existing(t), incoming(t),
          if (t == Income) NullSafeIncome else Set.empty)
      else incoming(t)
      t.name -> dedupAppend(t, existing(t), guarded)
    }.toMap
    val dump = EstimateTables.flatMap { t =>
      out(t.name).filter(r => dumped(t, f, r(t.idx(t.partCol)).asInstanceOf[LocalDate]))
        .groupBy(r => r(t.idx(t.partCol)).toString)
        .map { case (d, rs) => (t.name, d) -> digest(rs.map(csvLine(t, _))) }
    }.toMap
    val rows = out.values.map(_.size.toLong).sum + dump.values.map(_.rows).sum
    (Pass(f, from, to, digests(tables, t => out(t.name)), dump, rows,
      (files, bytes, incoming.by.values.map(_.size.toLong).sum)), out)
  }

  def setup(): Unit = {
    // both folders in the hero-layout era of the estimates page (2024-11-10 on)
    val folder = LocalDate.of(2025, 2, 10).plusDays(gen.g.int(300, "fr-date").toLong)
    val boot = folder.minusDays(91)
    val syms = gen.symbols(Symbols)
    val (bootPass, prior) = expect(boot, None, "prior", _ => Nil, pages(boot, syms))
    val (mainPass, _) = expect(folder, Some("prior"), "out", t => prior(t.name),
      pages(folder, syms))
    passes = Vector(bootPass, mainPass)
    lap("pages and expected output")
  }

  def inputs: (Long, Long, Long) = pass.inputs
  def outRows: Long = pass.rows

  private def scan(kind: String): DataFrame =
    if (kind == LegacyCashFlow)
      RawZone.scanDocuments(spark, p("raw-legacy"), pass.folder.toString,
        "cash-flow-statement")
    else RawZone.scanDocuments(spark, p("raw"), pass.folder.toString, kind)

  private def existing(t: Table): DataFrame =
    pass.from.map(f => read(t, p(f))).getOrElse(frame(t, Nil))

  /** The dump's source: the new snapshot, with the table's lookback. */
  private def dumpSource(t: Table): DataFrame = {
    val d = lit(java.sql.Date.valueOf(pass.folder))
    val df = read(t, p(pass.to)).select(t.names.map(col): _*)
    if (t == EpsHistory) df.filter(col("period_end_date") >= DateFns.sixMonthsBack(d))
    else df.filter(col("date") === d)
  }

  private def export(t: Table, df: DataFrame): Unit =
    CsvExport.writePerDate(df, t.partCol, t.pk, p("export", t.name))

  def batch(traced: Boolean): Unit =
    if (!traced) {
      val ex = tables.map(t => t.name -> existing(t)).toMap
      val est = EstimatesPipeline.load(ex,
        EstimatesPipeline.tables(scan("detailed-estimates")))
      val docs = (StatementKinds :+ LegacyCashFlow).map(k => k -> scan(k)).toMap
      writeAll(est ++ loadStatements(ex, statementRows(docs)), p(pass.to))
      EstimateTables.foreach(t => export(t, dumpSource(t)))
    } else tr.span("batch") {
      val ex = tr.span("sinks.read") {
        tables.map(t => t.name -> pin(existing(t))._1).toMap
      }
      val docs = tr.span("sources.scan") {
        Kinds.map(k => k -> pin(scan(k))._1).toMap
      }
      cnt("sources.files", pass.inputs._1.toDouble)
      cnt("sources.mb", pass.inputs._2 / 1e6)
      tr.span("extract.parse") {
        val ok = EstimatesPipeline.parsed(docs("detailed-estimates")).count() +
          statementDocsOk(docs)
        cnt("extract.docs_parsed", Kinds.map(k => n(docs(k))).sum.toDouble)
        cnt("extract.docs_ok", ok.toDouble)
      }
      val fresh = tr.span("pipelines.estimates") {
        pinAll(EstimatesPipeline.tables(docs("detailed-estimates")))
      }
      val rows = tr.span("pipelines.statements") {
        pinAll(statementRows(docs))
      }
      cnt("pipelines.rows_out", (fresh ++ rows).values.map(n).sum.toDouble)
      val loaded = tracedAppend(ex, fresh, EstimateTables) ++
        tracedStatementLoads(ex, rows)
      tr.span("sinks.write") { writeAll(loaded, p(pass.to)) }
      val src = tr.span("sinks.read") {
        EstimateTables.map(t => t -> pin(dumpSource(t))._1)
      }
      tr.span("export.write") { src.foreach { case (t, df) => export(t, df) } }
    }

  override def before(): Unit = {
    deleteTree(work.resolve(pass.to))
    deleteTree(work.resolve("export"))
  }
  protected def outDir: Path = work.resolve(pass.to)

  def check(): Seq[String] = Check.compareTables(pass.store,
    Check.storeDigests(spark, tables.map(t => t -> p(pass.to, t.name)))) ++
    Check.compareExport(work.resolve("export"), pass.dump)

  /** Parquet and CSV files and bytes the batch wrote. */
  def footprint(): (Long, Long) = {
    val (f1, b1) = Check.footprint(outDir)
    val (f2, b2) = Check.footprint(work.resolve("export"))
    (f1 + f2, b1 + b2)
  }
  override def exportFootprint(): (Long, Long) = Check.footprint(work.resolve("export"))
}

/** Consecutive folder dates. Each day loads the earnings and dividend
  * calendars (6-week horizon) and statement pages of a small slice of the
  * universe into a multi-year store; the day's output is the next day's
  * store. */
final class DailyIncremental(spark: SparkSession, gen: Gen, work: Path,
                             tr: Tracer) extends Workload(spark, gen, work, tr) {
  val name = "daily_incremental"
  // batches keep getting faster until about the fifth
  val warmups = 4
  val Symbols = 120
  val SlicePerDay = 3
  val HistoryDays = 28
  private val tables = StatementTables :+ Earnings :+ Dividends
  private val start: LocalDate =
    LocalDate.of(2024, 3, 4).plusDays(gen.g.int(400, "daily-start").toLong)
  private val syms = gen.symbols(Symbols)
  private val order = syms.sortBy(s => gen.g.h(s, "slice"))
  private val arrival: Map[String, LocalDate] = order.zipWithIndex.map {
    case (s, i) => s -> start.plusDays((i / SlicePerDay).toLong)
  }.toMap
  private var day = 0
  private def folder: LocalDate = start.plusDays(day.toLong)
  private var state: Map[String, Seq[Row]] = Map()
  private var next: Map[String, Seq[Row]] = Map()
  private var expected: Map[String, Digest] = Map()
  private var in = (0L, 0L, 0L)
  private def storeDir(d: Int): String = s"store${d % 2}"

  // --- the calendar model: quarterly report dates, some estimated early
  // and slipping forward once the estimate passes
  private def events(s: String): Seq[(LocalDate, LocalDate, String)] =
    gen.quarterEnds(s, start.plusDays(200), (HistoryDays + 200) / 91 + 1).map { q =>
      val t = weekday(q.plusDays(20L + gen.g.int(40, s, q, "lag")))
      val early = if (gen.g.u(s, q, "slip") < 0.12)
        weekday(t.minusDays(1L + gen.g.int(6, s, q, "slipby"))) else t
      val when = Seq("amc", "bmo", "--")(gen.g.int(3, s, q, "when"))
      (early, t, when)
    }
  /** Reports fall on weekdays: a weekend date moves to the Friday before. */
  private def weekday(d: LocalDate): LocalDate = d.getDayOfWeek.getValue match {
    case 6 => d.minusDays(1)
    case 7 => d.minusDays(2)
    case _ => d
  }
  private def shown(e: (LocalDate, LocalDate, String), f: LocalDate): LocalDate =
    if (!f.isAfter(e._1)) e._1 else e._2
  private val payer: Set[String] = syms.filter(s => gen.g.u(s, "payer") < 0.5).toSet
  private def dividends(s: String): Seq[(LocalDate, String, Option[LocalDate])] =
    if (!payer(s)) Nil
    else events(s).map { case (_, t, _) =>
      val ex = weekday(t.plusDays(10L + gen.g.int(10, s, t, "ex")))
      val amt = f"0.${5 + gen.g.int(90, s, t.getYear, "amt")}%02d"
      (ex, amt, if (gen.g.u(s, t, "pay") < 0.1) None else Some(ex.plusDays(14)))
    }

  private def earningsRow(s: String, d: LocalDate, when: String): Row =
    Vector(s, d, when match {
      case "amc" => "After market close"
      case "bmo" => "Before market open"
      case _ => null
    })
  private def dividendRow(s: String, ex: LocalDate, amt: String,
                          pay: Option[LocalDate]): Row =
    Vector(s, ex, new java.math.BigDecimal(amt).setScale(4), pay.orNull)

  def setup(): Unit = {
    val k = gen.knobs
    val first = start.minusDays(1)
    val rows = new Rows
    syms.foreach { s =>
      rows ++= gen.storedStatements(s, arrival(s), legacy = false, back = 6,
        withLatest = gen.g.u(s, "latest") < k.redeliverShare)
      events(s).foreach { e =>
        val d = shown(e, first)
        if (!d.isBefore(first.minusDays(HistoryDays.toLong)) &&
          d.isBefore(first.plusDays(42))) rows.add(Earnings, earningsRow(s, d, e._3))
      }
      dividends(s).foreach { case (ex, amt, pay) =>
        if (!ex.isBefore(first.minusDays(HistoryDays.toLong)) &&
          ex.isBefore(first.plusDays(42))) rows.add(Dividends, dividendRow(s, ex, amt, pay))
      }
    }
    state = tables.map(t => t.name -> rows(t)).toMap
    lap("store rows")
    tables.foreach(t => store(t, state(t.name), p(storeDir(0), t.name)))
    lap("store written")
    prepare()
    lap("first day")
  }

  /** Write the current day's raw zone and derive its expected store. */
  private def prepare(): Unit = {
    val f = folder
    val horizon = (0 until 42).map(i => f.plusDays(i.toLong))
    var bytes = 0L
    var files = 0L
    var inRows = 0L
    val earnFresh = mutable.ArrayBuffer[Row]()
    val divFresh = mutable.ArrayBuffer[Row]()
    val byDay = mutable.Map[LocalDate, mutable.ArrayBuffer[Seq[String]]]()
    val divByDay = mutable.Map[LocalDate, mutable.ArrayBuffer[Seq[String]]]()
    syms.foreach { s =>
      events(s).foreach { e =>
        val d = shown(e, f)
        if (!d.isBefore(f) && d.isBefore(f.plusDays(42))) {
          byDay.getOrElseUpdate(d, mutable.ArrayBuffer()) += gen.earningsEntry(s, e._3)
          earnFresh += earningsRow(s, d, e._3)
        }
      }
      dividends(s).foreach { case (ex, amt, pay) =>
        if (!ex.isBefore(f) && ex.isBefore(f.plusDays(42))) {
          divByDay.getOrElseUpdate(ex, mutable.ArrayBuffer()) += gen.dividendEntry(s, amt, ex, pay)
          divFresh += dividendRow(s, ex, amt, pay)
        }
      }
    }
    horizon.foreach { d =>
      bytes += writeFile(work.resolve("raw").resolve("earnings-calendar")
        .resolve(f.toString).resolve(s"$d.json"), gen.payload(byDay.getOrElse(d, Nil).toSeq))
      bytes += writeFile(work.resolve("raw").resolve("dividend-calendar")
        .resolve(f.toString).resolve(s"$d.json"), gen.payload(divByDay.getOrElse(d, Nil).toSeq))
      files += 2
    }
    val incoming = new Rows
    order.filter(arrival(_) == f).foreach { s =>
      Seq(gen.incomeDoc(s, f), gen.balanceDoc(s, f),
        gen.cashFlowDoc(s, f, legacy = false)).foreach { d =>
        bytes += writeFile(work.resolve("raw").resolve("statements")
          .resolve(f.toString).resolve(d.file), d.text)
        files += 1
        incoming ++= d.rows
      }
    }
    inRows = earnFresh.size + divFresh.size + incoming.by.values.map(_.size).sum
    val assets = state(Assets.name).map(r =>
      (r(0).asInstanceOf[String], r(1).asInstanceOf[LocalDate]))
    val stmts = StatementTables.map { t =>
      t.name -> dedupAppend(t, state(t.name), priorPeriodGuard(t, state(t.name),
        incoming(t), if (t == Income) NullSafeIncome else Set.empty))
    }
    next = (stmts :+ (Earnings.name -> supersededCleanup(
      calendarLoad(Earnings, state(Earnings.name), earnFresh.toSeq, f), assets)) :+
      (Dividends.name -> calendarLoad(Dividends, state(Dividends.name),
        divFresh.toSeq, f))).toMap
    expected = digests(tables, t => next(t.name))
    in = (files, bytes, inRows)
  }

  override def advance(): Unit = {
    state = next
    day += 1
    prepare()
  }

  def inputs: (Long, Long, Long) = in
  def outRows: Long = next.values.map(_.size.toLong).sum

  private def scanStatements(): Map[String, DataFrame] =
    StatementKinds.map(k => k -> RawZone.scanDocuments(spark,
      p("raw", "statements"), folder.toString, k)).toMap
  private def payloads(cal: String): DataFrame =
    RawZone.scanCalendarPayloads(spark, p("raw", cal), folder.toString)

  def batch(traced: Boolean): Unit = {
    val f = java.sql.Date.valueOf(folder)
    val inBase = p(storeDir(day))
    val outBase = p(storeDir(day + 1))
    if (!traced) {
      val ex = tables.map(t => t.name -> read(t, inBase)).toMap
      val earn = CalendarPipeline.runEarnings(ex(Earnings.name),
        payloads("earnings-calendar"), f,
        ex(Assets.name).select("act_symbol", "date"))
      val div = CalendarPipeline.runDividends(ex(Dividends.name),
        payloads("dividend-calendar"), f)
      writeAll(loadStatements(ex, statementRows(scanStatements())) +
        (Earnings.name -> earn) + (Dividends.name -> div), outBase)
    } else tr.span("batch") {
      val ex = tr.span("sinks.read") {
        tables.map(t => t.name -> pin(read(t, inBase))._1).toMap
      }
      val (docs, earnPay, divPay) = tr.span("sources.scan") {
        (scanStatements().map { case (k, df) => k -> pin(df)._1 },
          pin(payloads("earnings-calendar"))._1, pin(payloads("dividend-calendar"))._1)
      }
      cnt("sources.files", in._1.toDouble)
      cnt("sources.mb", in._2 / 1e6)
      tr.span("extract.parse") {
        cnt("extract.docs_parsed", StatementKinds.map(k => n(docs(k))).sum.toDouble)
        cnt("extract.docs_ok", statementDocsOk(docs).toDouble)
      }
      val (earnFresh, divFresh) = tr.span("pipelines.calendar") {
        (pin(CalendarExtract.earningsRows(earnPay, col("raw"), col("event_date"))
          .filter(col("act_symbol").isNotNull && col("date").isNotNull))._1,
          pin(CalendarExtract.dividendRows(divPay, col("raw"))
            .filter(col("act_symbol").isNotNull && col("ex_date").isNotNull &&
              col("amount").isNotNull))._1)
      }
      val rows = tr.span("pipelines.statements") {
        pinAll(statementRows(docs))
      }
      cnt("pipelines.rows_out",
        (n(earnFresh) + n(divFresh) + rows.values.map(n).sum).toDouble)
      val retracted = tr.span("operators.retract") {
        Map(Earnings.name -> pin(LoadOps.slideForwardRetract(
          ex(Earnings.name).filter(col("date") < lit(f)), earnFresh,
          "act_symbol", "date"))._1,
          Dividends.name -> pin(LoadOps.slideForwardRetract(
            ex(Dividends.name).filter(col("ex_date") < lit(f)), divFresh,
            "act_symbol", "ex_date"))._1)
      }
      val calendars = tracedAppend(retracted,
        Map(Earnings.name -> earnFresh, Dividends.name -> divFresh),
        Seq(Earnings, Dividends))
      val cleaned = tr.span("operators.cleanup") {
        val (d, rowsAfter) = pin(LoadOps.supersededCleanup(calendars(Earnings.name),
          ex(Assets.name).select("act_symbol", "date")))
        cnt("operators.store_rows", (rowsAfter - n(calendars(Earnings.name))).toDouble)
        d
      }
      val stmts = tracedStatementLoads(ex, rows)
      tr.span("sinks.write") {
        writeAll(stmts + (Earnings.name -> cleaned) +
          (Dividends.name -> calendars(Dividends.name)), outBase)
      }
    }
  }

  def check(): Seq[String] = Check.compareTables(expected,
    Check.storeDigests(spark, tables.map(t => t -> p(storeDir(day + 1), t.name))))

  protected def outDir: Path = work.resolve(storeDir(day + 1))
  def footprint(): (Long, Long) = Check.footprint(outDir)
}
