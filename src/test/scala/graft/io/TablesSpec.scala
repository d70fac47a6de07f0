package graft.io

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.parquet must open a table exactly as `spark.read.parquet`
  * does (same schema, same analyzed output, same errors), and for a
  * single file without starting a Spark job. */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  /** The committed copy of the sf0.001 catalog tables. */
  private lazy val tables: Seq[String] =
    new java.io.File("perfbench/data").getAbsoluteFile.listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  /** A file with the column types no catalog table has whose Spark
    * types depend on the converter flags: TIMESTAMP(NANOS) and a binary
    * column with no string annotation. */
  private lazy val flagFile: String = {
    val dir = java.nio.file.Files.createTempDirectory("tables-flags").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(dir)
    val file = new java.io.File(dir, "flags.parquet").getPath
    val schema = MessageTypeParser.parseMessageType(
      "message m { optional int64 ts (TIMESTAMP(NANOS,false)); optional binary b; }")
    val w = ExampleParquetWriter.builder(new HadoopPath(file)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1L).append("b", "x"))
    finally w.close()
    file
  }

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** What an open yields: the error's condition or class, or the
    * analyzed output and the files it reads. */
  private def outcome(open: => DataFrame) =
    scala.util.Try(open).toEither.map { df =>
      (df.schema, df.queryExecution.analyzed.output.map(a =>
        (a.name, a.dataType, a.nullable, a.metadata)), df.inputFiles.toSeq)
    }.left.map {
      case e: AnalysisException => e.getCondition
      case e => e.getClass.getName
    }

  /** Jobs started by `body`'s thread, counted through a listener. */
  private def jobsDuring(body: => Unit): Int = {
    val (group, sentinel) = ("tables-spec-open", "tables-spec-sentinel")
    val jobs = new AtomicInteger
    val sentinelJob = new AtomicInteger(-1)
    val sentinelDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => sentinelJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) sentinelDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "open")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the sentinel job's end is
      // seen, every job the body started has been counted
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelDone.await(60, TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("every catalog table opens as spark.read.parquet opens it, under each converter flag") {
    assert(tables.size == 10)
    val flags = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.binaryAsString")
    val settings = flags.foldLeft(Seq(Map.empty[String, String])) { (acc, k) =>
      acc.flatMap(m => Seq(m + (k -> "true"), m + (k -> "false")))
    }
    val flagTypes = settings.map(setting => withConf(setting) {
      val wants = (tables :+ flagFile).map(p => p -> outcome(spark.read.parquet(p)))
      for ((p, want) <- wants) {
        assert(want.isRight || p == flagFile, s"$p: $want")
        assert(outcome(Tables.parquet(spark, p)) == want, s"$p under $setting")
      }
      // a flag the footer read got wrong would show only as a fallback job
      val readable = wants.collect { case (p, Right(_)) => p }
      assert(jobsDuring(readable.foreach(Tables.parquet(spark, _))) == 0, s"under $setting")
      wants.last._2
    })
    // the flags matter: nanosAsLong=false rejects TIMESTAMP(NANOS), and
    // binaryAsString types the unannotated binary column
    assert(flagTypes.distinct.size == 3)
  }

  test("a single-file open starts no Spark job") {
    assert(jobsDuring(tables.foreach(spark.read.parquet(_))) >= tables.size,
      "the listener must see spark.read.parquet's schema inference jobs")
    assert(jobsDuring(tables.foreach(Tables.parquet(spark, _))) == 0)
    // the catalog's (dir, name) form opens the same file
    val customer = tables.find(_.endsWith("/customer.parquet")).get
    assert(outcome(Tables.table(spark, new java.io.File(customer).getParent, "customer")) ==
      outcome(spark.read.parquet(customer)))
  }

  test("a missing path raises spark.read.parquet's error") {
    val missing = tables.head.replace(".parquet", "_missing.parquet")
    val want = intercept[AnalysisException](spark.read.parquet(missing))
    val got = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(got.getCondition == want.getCondition && got.getCondition != null)
  }

  test("a directory still reads, and a hidden file name reads as Spark reads it") {
    val dir = java.nio.file.Files.createTempDirectory("tables").toFile
    try {
      val df = spark.range(0, 100, 1, 3).selectExpr("id", "id * 2 AS twice")
      df.write.mode("overwrite").parquet(dir.getPath)
      val got = Tables.parquet(spark, dir.getPath)
      assert(got.schema == spark.read.parquet(dir.getPath).schema)
      assert(got.selectExpr("sum(twice)").head.getLong(0) == 9900L)
      // Spark's listing drops a root file whose name starts with `_`
      // or `.` or ends in `._COPYING_`; the open must not read it
      // behind Spark's back
      def rows(open: => DataFrame) = outcome(open).map(_ => open.count())
      for (name <- Seq("_hidden.parquet", ".hidden.parquet", "part.parquet._COPYING_")) {
        val hidden = new java.io.File(dir, name)
        java.nio.file.Files.copy(new java.io.File(tables.head).toPath, hidden.toPath)
        assert(rows(Tables.parquet(spark, hidden.getPath)) ==
          rows(spark.read.parquet(hidden.getPath)), name)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
