package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Row count plus an order-independent hash over every output column. */
final case class Fingerprint(rows: Long, hash: Long)

object Fingerprint {

  /** The action every timed execution ends with. Unlike `count()`, it
    * references every output column, so the optimizer cannot prune the
    * expressions that compute them. The 64-bit row hash is summed as two
    * 32-bit halves so that the sums cannot overflow. */
  def of(df: DataFrame): Fingerprint = {
    val d = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val row =
      if (d.columns.isEmpty) lit(0L)
      else xxhash64(d.columns.toSeq.map(col): _*)
    val r = d.agg(
      count(lit(1)),
      coalesce(sum(row.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(row, 32)), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1) * 0x9e3779b97f4a7c15L + r.getLong(2))
  }
}

/** Expected output of one query. `hash` is empty for a query with no
  * DuckDB oracle entry: only its row count is checked. */
final case class Reference(rows: Long, hash: Option[Long]) {
  def matches(fp: Fingerprint): Boolean = fp.rows == rows && hash.forall(_ == fp.hash)
  def describe: String = s"rows=$rows hash=${hash.fold("rows-only")(_.toString)}"
}

object References {
  private val Header = "# query\trows\thash ('-' = rows-only: the query has no oracle entry)"

  def load(path: Path): Map[String, Reference] =
    Files.readAllLines(path).asScala.iterator
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l =>
        l.split("\t") match {
          case Array(q, rows, hash) =>
            q -> Reference(rows.toLong, if (hash == "-") None else Some(hash.toLong))
          case _ => sys.error(s"malformed reference line: $l")
        }
      }.toMap

  def write(path: Path, refs: Map[String, Reference]): Unit = {
    val lines = Header +: refs.toSeq.sortBy(_._1).map { case (q, r) =>
      s"$q\t${r.rows}\t${r.hash.fold("-")(_.toString)}"
    }
    Files.write(path, lines.asJava)
  }
}
