package graft

import graft.Geo._
import graft.io.Tables
import graft.tools.SpatialJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXTENT-GROWING scale drill for the spatial-join family.
  *
  * The catalog's sf1 sweep replicates rows into the SAME coordinate
  * extent (keys are folded mod a fixed range inside every query), so
  * its spatial-join "slope" measures candidate-pair OUTPUT growth
  * (~quadratic in density), not plan scaling. This drill is the
  * constant-density complement: replicas are TILED into new 1000x1000
  * blocks, so 10x rows = 10x extent = ~10x output, and the wall-clock
  * slope isolates how the grid plans themselves scale. A near-linear
  * slope here is the evidence the sf1 sweep structurally cannot give.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 on local[32]; prints
  * one JSON line {op: {t_base, t_10x, rows_base, rows_10x, slope}}. */
object SpatialScaleBench {
  private def tile(df: DataFrame, reps: Int): DataFrame = {
    val cols = math.ceil(math.sqrt(reps.toDouble)).toInt
    df.crossJoin(spark_range(df.sparkSession, reps))
      .withColumn("__offx", (col("__k") % cols) * 1000.0)
      .withColumn("__offy", floor(col("__k") / cols) * 1000.0)
  }
  private def spark_range(s: SparkSession, n: Int): DataFrame =
    s.range(n).toDF("__k")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // this drill MEASURES the adaptive arm: force the hot-cell
      // detection pass regardless of the small-input gate (the gate
      // would otherwise silently turn the arm into blanket salting at
      // the base scale — the r15 drill-soundness bug class)
      .config("spark.graft.sjoin.adaptiveSalt.minBytes", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def customers = Tables.table(spark, sfDir, "customer")
    def suppliers = Tables.table(spark, sfDir, "supplier")

    /** Points/diamonds in [0,1000)^2 per tile — the sjoin catalog
      * family's SHARED coordinate recipe (graft.queries.Queries), so
      * the drill measures the exact workload shape the catalog runs,
      * then tiled `reps`-fold. */
    import graft.queries.Queries.{sjoinCenterXY, diamondRadius, diamondRing}
    def points(reps: Int): DataFrame = {
      val (px, py) = sjoinCenterXY(col("c_custkey"))
      tile(customers, reps)
        .withColumn("pt", st_point(px + col("__offx"), py + col("__offy")))
        .select("c_custkey", "pt")
    }
    def diamonds(reps: Int): DataFrame = {
      val (cx0, cy0) = sjoinCenterXY(col("s_suppkey"))
      val cx = cx0 + col("__offx")
      val cy = cy0 + col("__offy")
      tile(suppliers, reps)
        .withColumn("diamond",
          array(diamondRing(cx, cy, diamondRadius(col("s_suppkey")))))
        .select("s_suppkey", "diamond")
    }
    /** 90% of EVERY replica's points collapse into the single global
      * hot cell ([0,100)^2 — no tile offset on the hot branch), the
      * cold 10% tile out with the extent: the hot mass scales WITH the
      * data, so the adaptive detector keeps firing at every scale (a
      * fixed-mass hot cell would fall under the total-scaled threshold
      * at 10x and silently measure the unsalted fallback instead). */
    def skewedPoints(reps: Int): DataFrame = {
      val (ux, uy) = sjoinCenterXY(col("c_custkey"))
      val hot = col("c_custkey") % 10 =!= 0
      tile(customers, reps)
        .withColumn("pt", st_point(
          when(hot, (((col("c_custkey") * 13) % 50) * 2).cast("double"))
            .otherwise(ux + col("__offx")),
          when(hot, (((col("c_custkey") * 17) % 50) * 2).cast("double"))
            .otherwise(uy + col("__offy"))))
        .select("c_custkey", "pt")
    }
    def lines(reps: Int): DataFrame = {
      val x0 = ((col("s_suppkey") * 131) % 1000).cast("double") + col("__offx")
      val y0 = ((col("s_suppkey") * 257) % 1000).cast("double") + col("__offy")
      tile(suppliers, reps)
        .withColumn("ln", array(x0, y0, x0 + 30.0, y0 + 18.0))
        .select(col("s_suppkey").as("l_key"), col("ln"))
    }
    /** The geometry-side twin of [[skewedPoints]]: 90% of every
      * replica's segments collapse into the global hot cell (origin in
      * [0,100)^2, no tile offset), cold 10% tile out — the planted
      * skew for the dual-grid join's adaptive arm (its detector counts
      * EXPLODED cell keys on this side). */
    def skewedLines(reps: Int): DataFrame = {
      val hot = col("c_custkey") % 10 =!= 0
      val x0 = when(hot, (((col("c_custkey") * 13) % 50) * 2).cast("double"))
        .otherwise(((col("c_custkey") * 131) % 1000).cast("double") + col("__offx"))
      val y0 = when(hot, (((col("c_custkey") * 17) % 50) * 2).cast("double"))
        .otherwise(((col("c_custkey") * 257) % 1000).cast("double") + col("__offy"))
      tile(customers, reps)
        .withColumn("ln", array(x0, y0, x0 + 30.0, y0 + 18.0))
        .select(col("c_custkey").as("l_key"), col("ln"))
    }

    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "grid_point_in_polygon" -> { reps: Int =>
        SpatialJoin.pointInGeom(points(reps), diamonds(reps),
          "pt", "diamond", "polygon", cellSize = 128.0)
      },
      "grid_geom_join_lines" -> { reps: Int =>
        SpatialJoin.geomGridInner(lines(reps), diamonds(reps),
          col("ln"), "line", col("diamond"), "polygon", cellSize = 128.0)
      },
      "distance_join" -> { reps: Int =>
        SpatialJoin.distanceJoin(
          points(reps).withColumnRenamed("c_custkey", "a_key")
            .withColumnRenamed("pt", "a_pt"),
          points(reps).withColumnRenamed("c_custkey", "b_key")
            .withColumnRenamed("pt", "b_pt"),
          "a_pt", "b_pt", radius = 8.0)
      },
      // ONE global hot cell (tile 0 skewed, every other tile uniform)
      // while the cold extent grows with scale: blanket salting pays
      // salt-fold replication in EVERY new cold tile, adaptive only in
      // the one hot cell — the gap this mode exists for should WIDEN
      // with extent, measured here side by side
      "sjoin_skew_blanket" -> { reps: Int =>
        SpatialJoin.pointInGeom(skewedPoints(reps), diamonds(reps),
          "pt", "diamond", "polygon", cellSize = 128.0, salt = 8)
      },
      "sjoin_skew_adaptive" -> { reps: Int =>
        // the override makes detection unconditional INDEPENDENT of
        // conf plumbing (belt and braces with the minBytes=0 session
        // conf above; the arm-engaged assertion below is the backstop)
        SpatialJoin.pointInGeom(skewedPoints(reps), diamonds(reps),
          "pt", "diamond", "polygon", cellSize = 128.0, salt = 8,
          adaptiveSalt = true, adaptiveMinBytesOverride = 0)
      },
      // the dual-grid (geometry x geometry) twin of the skew pair: one
      // global hot cell in a growing cold extent — blanket salting
      // replicates the build side salt-fold in EVERY cold tile,
      // adaptive only in the hot cell (r16 verdict #2: geomGridInner
      // previously had no salting mode at all)
      "geom_skew_blanket" -> { reps: Int =>
        SpatialJoin.geomGridInner(skewedLines(reps), diamonds(reps),
          col("ln"), "line", col("diamond"), "polygon", cellSize = 128.0,
          salt = 8)
      },
      "geom_skew_adaptive" -> { reps: Int =>
        SpatialJoin.geomJoin(skewedLines(reps), diamonds(reps),
          "ln", "line", "diamond", "polygon", cellSize = 128.0,
          salt = 8, adaptiveSalt = true, adaptiveMinBytesOverride = 0)
      })

    val baseReps = 4
    val bigReps = 40 // 10x rows, 10x tiles: constant density
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val results = ops.map { case (name, mk) =>
      val detectionsBefore = SpatialJoin.detectionRuns.get()
      mk(baseReps).count() // warm codegen/readers outside the window
      def median3(reps: Int): (Double, Long) = {
        val runs = (1 to 3).map(_ => timed(mk(reps).count()))
        (runs.map(_._1).sorted.apply(1), runs.head._2)
      }
      val (tb, nb) = median3(baseReps)
      val (tx, nx) = median3(bigReps)
      // arm soundness: the adaptive arm must have RUN detection (an
      // arm silently measuring a fallback is the r15 drill bug class)
      if (name.contains("adaptive"))
        require(SpatialJoin.detectionRuns.get() > detectionsBefore,
          s"$name never ran hot-cell detection — the arm measured a fallback")
      name -> (tb, tx, nb, nx)
    }
    spark.stop()
    val body = results.map { case (n, (tb, tx, nb, nx)) =>
      f""""$n":{"t_base":$tb%.3f,"t_10x":$tx%.3f,"rows_base":$nb,"rows_10x":$nx,"slope":${tx / tb}%.2f}"""
    }.mkString(",")
    val line = s"""{"metric":"spatial_extent_scale","base_reps":$baseReps,"big_reps":$bigReps,"ops":{$body},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_extent.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case t: Throwable => System.err.println(s"[extent] write failed: $t") }
    println(line)
  }
}
