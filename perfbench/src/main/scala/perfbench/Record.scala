package perfbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Writes the benchmark's reference outputs.
  *
  * Usage: Record <data dir> <Verify dump dir> <check_oracle.py log> <refs file>
  *
  * The dump and the log come from `graft.Verify` and
  * `scripts/check_oracle.py --subset` run over the same data dir. A query
  * the oracle matched (OK) gets its row count and hash; a query without an
  * oracle entry (ROWS_ONLY) gets its row count only. Each reference is
  * taken from the oracle-checked dump and must equal a live execution. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, dump, log, out) = args
    val verdicts = Files.readAllLines(Paths.get(log)).asScala.flatMap { l =>
      l.trim.split("\\s+") match {
        case Array(q, v, _*) if v == "OK" || v == "ROWS_ONLY" => Some(q -> v)
        case _ => None
      }
    }.toMap
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = Main.newSession(Runtime.getRuntime.availableProcessors, tmp)
    val refs = Main.workloads.flatMap(_.queries).distinct.map { q =>
      val verdict = verdicts.getOrElse(q, sys.error(s"$q has no OK or ROWS_ONLY verdict in $log"))
      val ckpt = s"$tmp/ckpt/$q"
      spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
      val checked = Fingerprint.of(spark.read.parquet(s"$dump/$q"))
      val live = Fingerprint.of(SparkEntry.queries(q)(spark, data))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      require(checked.rows == live.rows, s"$q: live rows ${live.rows} != checked rows ${checked.rows}")
      if (verdict == "OK")
        require(checked.hash == live.hash, s"$q: live hash ${live.hash} != checked hash ${checked.hash}")
      q -> Reference(checked.rows, if (verdict == "OK") Some(checked.hash) else None)
    }.toMap
    References.write(Paths.get(out), refs)
    Main.stopSession(spark)
  }
}
