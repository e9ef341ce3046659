package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.extract.{EstimateExtract, StatementExtract}

/** The end-to-end ETL benchmark. One JVM, one workload:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --result <file> --traces <dir>
  * }}}
  *
  * Generates the workload's raw zone and store from the seed, warms up
  * untimed, then runs batches for `--seconds`, checking every batch's
  * output. The result JSON goes to `--result`: end-to-end metrics with
  * `--trace 0`, per-layer metrics from traced batches with `--trace 1`.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s",
    "wall_tail_s" -> "s", "rows_per_s" -> "1/s", "out_bytes_per_row" -> "B",
    "peak_rss_mb" -> "MB")

  val SampleKinds: Seq[String] = Seq("estimates", "income", "balance",
    "cash_flow_2024", "cash_flow_legacy")

  /** Layer spans whose durations become `<span>_s`. */
  val TimedSpans: Seq[String] = Seq("sources.scan", "extract.parse",
    "pipelines.estimates", "pipelines.statements", "pipelines.calendar",
    "operators.guard", "operators.append", "operators.retract",
    "operators.cleanup", "sinks.write", "sinks.read", "export.write")

  val SparkCounts: Seq[String] = Seq("queries", "jobs", "stages", "tasks",
    "sched_delay_s", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb")

  val PerLayer: Seq[(String, String)] =
    Seq("sources.scan_s" -> "s", "sources.files" -> "count",
      "sources.mb" -> "MB", "extract.parse_s" -> "s") ++
      SampleKinds.map(k => s"extract.us_per_doc.$k" -> "us") ++
      Seq("extract.docs" -> "count", "extract.valid_ratio" -> "ratio",
        "pipelines.estimates_s" -> "s", "pipelines.statements_s" -> "s",
        "pipelines.calendar_s" -> "s", "pipelines.rows_out" -> "count",
        "operators.guard_s" -> "s", "operators.append_s" -> "s",
        "operators.retract_s" -> "s", "operators.cleanup_s" -> "s",
        "operators.rows_in" -> "count", "operators.rows_kept" -> "count",
        "operators.store_rows" -> "count", "sinks.write_s" -> "s",
        "sinks.read_s" -> "s", "sinks.files" -> "count", "sinks.mb" -> "MB",
        "export.write_s" -> "s", "export.jobs" -> "count",
        "export.files" -> "count", "export.mb" -> "MB", "spark.plan_s" -> "s") ++
      SparkCounts.map(c => s"spark.$c" -> (if (c.endsWith("_s")) "s"
        else if (c.endsWith("_mb")) "MB" else "count")) ++
      Seq("spark.core_util" -> "ratio", "trace.overhead_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, result: Path,
                        traces: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload '$w'")
    Args(w, need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, Paths.get(need("work")), Paths.get(need("result")),
      Paths.get(need("traces")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** CPU seconds used by the whole JVM so far. */
  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Single-thread parse cost per document over a fixed sample (the same
    * documents for every seed). */
  private def usPerDoc(): Map[String, Double] = {
    val g = new Gen(0L)
    val folder = LocalDate.of(2025, 3, 3)
    val syms = g.symbols(40)
    val docs: Map[String, Seq[String]] = Map(
      "estimates" -> syms.map(s => g.estimatesDoc(s, folder, invalid = false).text),
      "income" -> syms.map(s => g.incomeDoc(s, folder).text),
      "balance" -> syms.map(s => g.balanceDoc(s, folder).text),
      "cash_flow_2024" -> syms.map(s => g.cashFlowDoc(s, folder, legacy = false).text),
      "cash_flow_legacy" -> syms.map(s => g.cashFlowDoc(s, folder, legacy = true).text))
    val parsers: Map[String, String => Any] = Map(
      "estimates" -> (h => EstimateExtract.parse(h, folder)),
      "income" -> (h => StatementExtract.parseIncomeStatement(h)),
      "balance" -> (h => StatementExtract.parseBalanceSheet(h)),
      "cash_flow_2024" -> (h => StatementExtract.parseCashFlow2024(h)),
      "cash_flow_legacy" -> (h => StatementExtract.parseCashFlowLegacy(h)))
    // 20 rounds, the first 10 untimed: a workload that never parses a
    // kind in its batches must not report that kind's interpreter speed
    SampleKinds.map { k =>
      val rounds = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        docs(k).foreach(parsers(k))
        (System.nanoTime() - t0) / 1e3 / docs(k).size
      }
      k -> median(rounds.drop(10))
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = sys.env.get("PERFBENCH_CORES").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(a.work)
    val spark = session(cores, a.work)
    try run(a, spark, cores, jvmStartMs)
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, cores: Int,
                  jvmStartMs: Long): Unit = {
    log(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=$cores")
    log("jvm flags: " + ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.mkString(" "))
    log(s"jvm: ${sys.props("java.vm.name")} ${sys.props("java.version")} " +
      s"max heap ${Runtime.getRuntime.maxMemory / (1 << 20)} MB")
    spark.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) =>
      log(s"spark conf $k=$v")
    }
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    val tr = new Tracer(spark, meter, a.trace)
    val gen = new Gen(a.seed)
    val w = Workload(a.workload, spark, gen, a.work, tr)
    log(s"knobs: ${gen.knobs}")

    var attempted = 0
    var failed = 0
    /** Run the current batch; returns its wall seconds, or None on failure
      * (the cause is printed, never dropped). */
    def attempt(traced: Boolean, label: String): Option[Double] = {
      attempted += 1
      w.before()
      tr.batch = attempted
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      var wall = 0.0
      val errors = try {
        w.batch(traced)
        wall = (System.nanoTime() - t0) / 1e9
        val cpu = processCpuS() - cpu0
        val e = w.check()
        log(f"batch $attempted ($label): $wall%.3f s, cpu $cpu%.3f s, check " +
          f"${(System.nanoTime() - t0) / 1e9 - wall}%.3f s")
        e
      } catch {
        case e: Exception =>
          log(s"batch $attempted ($label) threw:")
          e.printStackTrace()
          Seq(s"threw ${e.getClass.getName}")
      }
      errors.foreach(e => log(s"batch $attempted failed: $e"))
      if (errors.nonEmpty) { failed += 1; None } else Some(wall)
    }

    val t0 = System.nanoTime()
    w.setup()
    log(f"generated inputs and store in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val (inFiles, inBytes, inRows) = w.inputs
    log(s"input per batch: $inFiles files, $inBytes bytes, $inRows rows")
    (0 until w.warmups).foreach { _ =>
      attempt(traced = false, "warm-up")
      w.advance()
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val walls = mutable.ArrayBuffer[Double]()
    val rates = mutable.ArrayBuffer[Double]()
    val bytesPerRow = mutable.ArrayBuffer[Double]()
    val layer = mutable.ArrayBuffer[Map[String, Double]]()
    val pairs = mutable.ArrayBuffer[(Double, Double)]()
    val usDoc = if (a.trace) usPerDoc() else Map.empty[String, Double]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var failedInARow = 0
    while ((elapsed < a.seconds || walls.isEmpty) && failedInARow < 3) {
      val plain = attempt(traced = false, "timed")
      failedInARow = if (plain.isEmpty) failedInARow + 1 else 0
      plain.foreach { wall =>
        val rows = w.outRows
        val (files, bytes) = w.footprint()
        log(s"batch $attempted output: $rows rows, $files files, $bytes bytes")
        walls += wall
        rates += rows / wall
        bytesPerRow += bytes.toDouble / rows
      }
      if (a.trace) {
        val batch = attempted + 1
        val traced = attempt(traced = true, "traced")
        for (t <- traced; p <- plain) {
          pairs += p -> t
          val (files, bytes) = w.footprint()
          layer += layerMetrics(tr.spans.filter(_.batch == batch).toSeq,
            w.counts.toMap, files, bytes, w.exportFootprint(), cores)
        }
        w.release()
      }
      w.advance()
    }

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val sorted = walls.sorted
        val n = sorted.size
        val (tail, pct) =
          if (n > 10) (sorted(n - 11), 100.0 * (n - 10) / n)
          else (sorted.lastOption.getOrElse(0.0), 100.0)
        log(f"wall_s: median of $n batches; wall_tail_s: p$pct%.1f of $n " +
          s"batches (${if (n > 10) "10 beyond it" else "fewer than 11 batches: the slowest"})")
        val values = Map("setup_s" -> setupS, "wall_s" -> median(walls.toSeq),
          "wall_tail_s" -> tail, "rows_per_s" -> median(rates.toSeq),
          "out_bytes_per_row" -> median(bytesPerRow.toSeq),
          "peak_rss_mb" -> peakRssMb())
        EndToEnd.map { case (k, u) => (k, u, values(k)) }
      } else {
        val agg = PerLayer.map(_._1).map { k =>
          k -> median(layer.flatMap(_.get(k)).toSeq)
        }.toMap ++ usDoc.map { case (k, v) => s"extract.us_per_doc.$k" -> v } +
          ("trace.overhead_frac" ->
            (if (pairs.isEmpty) 0.0
            else median(pairs.map(_._2).toSeq) / median(pairs.map(_._1).toSeq) - 1))
        val spansOut = a.traces.resolve(s"${a.workload}-seed${a.seed}.jsonl")
        tr.writeJsonl(spansOut)
        log(s"spans written to $spansOut")
        PerLayer.map { case (k, u) => (k, u, agg(k)) }
      }
    log(s"attempted $attempted batches, failed $failed " +
      f"(failed_frac ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f)")
    metrics.foreach { case (k, u, v) => log(s"metric $k = $v $u") }
    val body = metrics.map { case (k, u, v) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    Files.write(a.result, (s"""{"correct": ${failed == 0 && attempted > 0}, """ +
      s""""attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Per-layer numbers of one traced batch. */
  private def layerMetrics(spans: Seq[Span], counts: Map[String, Double],
                           files: Long, bytes: Long, exported: (Long, Long),
                           cores: Int): Map[String, Double] = {
    val root = spans.find(_.name == "batch")
      .getOrElse(throw new IllegalStateException("traced batch has no root span"))
    val byName = spans.groupBy(_.name)
    val times = TimedSpans.map(n =>
      s"${n}_s" -> byName.getOrElse(n, Nil).map(_.seconds).sum).toMap
    val c = counts.withDefaultValue(0.0)
    val exportJobs = byName.getOrElse("export.write", Nil)
      .map(_.counts.getOrElse("jobs", 0.0)).sum
    val (exFiles, exBytes) = exported
    val spark = SparkCounts.map(k => s"spark.$k" -> root.counts.getOrElse(k, 0.0)) :+
      ("spark.plan_s" -> root.counts.getOrElse("plan_s", 0.0)) :+
      ("spark.core_util" -> root.counts.getOrElse("exec_run_s", 0.0) /
        (root.seconds * cores))
    times ++ spark ++ Map(
      "sources.files" -> c("sources.files"), "sources.mb" -> c("sources.mb"),
      "extract.docs" -> c("extract.docs_ok"),
      "extract.valid_ratio" -> (if (c("extract.docs_parsed") == 0) 0.0
        else c("extract.docs_ok") / c("extract.docs_parsed")),
      "pipelines.rows_out" -> c("pipelines.rows_out"),
      "operators.rows_in" -> c("operators.rows_in"),
      "operators.rows_kept" -> c("operators.rows_kept"),
      "operators.store_rows" -> c("operators.store_rows"),
      "sinks.files" -> (files - exFiles).toDouble,
      "sinks.mb" -> (bytes - exBytes) / 1e6,
      "export.jobs" -> exportJobs,
      "export.files" -> exFiles.toDouble, "export.mb" -> exBytes / 1e6)
  }
}
