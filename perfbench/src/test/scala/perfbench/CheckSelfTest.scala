package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore

/** Self-test of the output check: run one real full-refresh batch, corrupt
  * one loaded row and drop one exported date, and require the check to
  * name both.
  *
  * {{{
  * python3 perfbench/run.py --selftest
  * }}}
  */
object CheckSelfTest {

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: CheckSelfTest <work dir>")))
      .resolve("data")
    Files.createDirectories(work)
    val spark = Main.session(2, work)
    val ok = try {
      val w = Workload("full_refresh", spark, new Gen(7L), work,
        new Tracer(spark, new Meter, enabled = false))
      w.setup()
      w.before()
      w.batch(traced = false)
      val clean = w.check()
      expect(clean.isEmpty, s"a clean batch passes the check, got: $clean")

      // corrupt one loaded row: +1 on one cell of income_statement
      val table = work.resolve("prior").resolve("income_statement").toString
      val df = SnapshotStore.read(spark, table)
      val victim = df.orderBy("act_symbol", "date", "period").limit(1).collect().head
      val hit = col("act_symbol") === victim.getAs[String]("act_symbol") &&
        col("date") === victim.getAs[java.sql.Date]("date") &&
        col("period") === victim.getAs[String]("period")
      SnapshotStore.write(df.withColumn("sales",
        when(hit, coalesce(col("sales"), lit(0)) + 1).otherwise(col("sales"))
          .cast("decimal(38,4)"))
        .localCheckpoint(eager = true), table)

      // drop one exported date
      val dates = work.resolve("export").resolve("rank_score")
      val dropped = list(dates).head
      deleteTree(dropped)

      val errors = w.check()
      errors.foreach(e => println(s"check reported: $e"))
      expect(errors.exists(_.startsWith("table income_statement:")),
        "the corrupted row is reported against income_statement")
      expect(errors.exists(_ ==
        s"export rank_score/${dropped.getFileName}: date not exported"),
        "the dropped export date is reported")
      expect(errors.size == 2, s"nothing else is reported, got ${errors.size}")
      true
    } catch {
      case e: AssertionError =>
        println(s"FAIL: ${e.getMessage}")
        false
    } finally spark.stop()
    println(if (ok) "PASS: the check reports a corrupted row and a dropped date"
      else "FAIL")
    if (!ok) sys.exit(1)
  }

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what) else println(s"ok: $what")

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def deleteTree(dir: Path): Unit = {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}
