package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.SnapshotStore
import Model._

/** Output checks against the digests the generator derived. Each returns
  * one message per mismatch, naming the table (and date) at fault. */
object Check {

  /** Row count and line-CRC sum of every stored table, in one query. */
  def storeDigests(spark: SparkSession, tables: Seq[(Table, String)])
      : Map[String, Digest] = {
    val parts = tables.map { case (t, path) =>
      val line = concat_ws("|", t.names.map(c =>
        coalesce(col(c).cast("string"), lit("\\N"))): _*)
      SnapshotStore.read(spark, path)
        .select(crc32(line.cast("binary")).as("h"))
        .agg(count(lit(1)).as("n"), coalesce(sum("h"), lit(0L)).as("s"))
        .select(lit(t.name).as("t"), col("n"), col("s"))
    }
    parts.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2))).toMap
  }

  def compareTables(expected: Map[String, Digest],
                    actual: Map[String, Digest]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (t, e) =>
      actual.get(t) match {
        case None => Seq(s"table $t: not written")
        case Some(a) if a != e =>
          Seq(s"table $t: expected ${e.rows} rows (digest ${e.sum}), " +
            s"got ${a.rows} rows (digest ${a.sum})")
        case _ => Nil
      }
    }

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Digest of one exported date directory: data lines of every part file
    * (the header of each file checked and skipped). */
  private def csvDigest(t: Table, dir: Path): Either[String, Digest] = {
    val parts = list(dir).filter(_.getFileName.toString.startsWith("part-"))
    val header = t.names.mkString(",")
    parts.foldLeft[Either[String, Digest]](Right(Digest.empty)) {
      case (Left(e), _) => Left(e)
      case (Right(d), p) =>
        val lines = Files.readAllLines(p).asScala
        if (lines.isEmpty) Right(d)
        else if (lines.head != header)
          Left(s"header '${lines.head}' is not '$header'")
        else Right(d + digest(lines.tail))
    }
  }

  /** Compare an export tree `<base>/<table>/<yyyy-MM-dd>/part-*.csv` with
    * the expected per-(table, date) digests. */
  def compareExport(base: Path, expected: Map[(String, String), Digest])
      : Seq[String] = {
    val tables = expected.keys.map(_._1).toSeq.distinct.sorted
    tables.flatMap { tn =>
      val t = byName(tn)
      val want = expected.collect { case ((`tn`, d), dg) => d -> dg }
      val have = list(base.resolve(tn)).map(_.getFileName.toString).toSet
      val missing = (want.keySet -- have).toSeq.sorted
        .map(d => s"export $tn/$d: date not exported")
      val extra = (have -- want.keySet).toSeq.sorted
        .map(d => s"export $tn/$d: date not expected")
      val wrong = want.toSeq.sortBy(_._1).filter(w => have(w._1)).flatMap {
        case (d, e) => csvDigest(t, base.resolve(tn).resolve(d)) match {
          case Left(msg) => Seq(s"export $tn/$d: $msg")
          case Right(a) if a != e => Seq(s"export $tn/$d: expected ${e.rows} " +
            s"rows (digest ${e.sum}), got ${a.rows} rows (digest ${a.sum})")
          case _ => Nil
        }
      }
      missing ++ extra ++ wrong
    }
  }

  /** Files and bytes of the data files under a directory tree. */
  def footprint(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.startsWith("part-")
      }.foldLeft((0L, 0L)) { case ((f, b), p) => (f + 1, b + Files.size(p)) }
      finally s.close()
    }
}
