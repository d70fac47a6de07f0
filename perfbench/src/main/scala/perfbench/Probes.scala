package perfbench

import graft.functions.{TextEval, TextHashing}
import graft.geom.{HilbertCurve, HilbertRtree, Kernels, Wkb, Wkt}
import org.apache.spark.unsafe.types.UTF8String

/** One kernel probe: nanoseconds per operation, and how many results
  * disagreed with a closed form or a round trip. */
final case class ProbeResult(metric: String, nsPerOp: Double, wrong: Int, detail: String, start: Long, end: Long)

/** Direct calls into the pure-Scala kernels on seeded inputs shaped like
  * the catalog's: points in [0,1000)², the catalog's supplier diamonds
  * (even centres, odd radius 21..69), 4-vertex lines and short documents.
  * Every probe is checked, so a broken kernel cannot read as fast. */
final class Probes(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)

  // x = i + 0.25, y = j + 0.5: the L1 distance to an integer centre is never
  // an integer, so no point lies on a diamond's boundary.
  private val nPoints = 2048
  private val px = Array.fill(nPoints)(rnd.nextInt(1000) + 0.25)
  private val py = Array.fill(nPoints)(rnd.nextInt(1000) + 0.5)

  private val nDiamonds = 128
  private val cx = Array.fill(nDiamonds)(2.0 * rnd.nextInt(500))
  private val cy = Array.fill(nDiamonds)(2.0 * rnd.nextInt(500))
  private val radius = Array.fill(nDiamonds)(2.0 * rnd.nextInt(25) + 21)
  private val rings = Array.tabulate(nDiamonds) { i =>
    val (x, y, r) = (cx(i), cy(i), radius(i))
    Array(x + r, y, x, y + r, x - r, y, x, y - r, x + r, y)
  }
  private val ringOffsets = Array(0, 10)

  // Segments are Pythagorean (3k,4k,5k) steps, so each line's length is
  // exactly 5 * sum(k).
  private val steps = Array((3, 4), (4, 3), (5, 0), (0, 5), (-3, 4), (4, -3), (-5, 0), (0, -5))
  private val nLines = 2048
  private val (lines, lineLengths) = Array.fill(nLines) {
    val v = new Array[Double](8)
    v(0) = rnd.nextInt(1000); v(1) = rnd.nextInt(1000)
    var len = 0.0
    for (s <- 1 to 3) {
      val (dx, dy) = steps(rnd.nextInt(steps.length))
      val k = rnd.nextInt(5) + 1
      v(2 * s) = v(2 * s - 2) + dx * k
      v(2 * s + 1) = v(2 * s - 1) + dy * k
      len += 5.0 * k
    }
    (v, len)
  }.unzip
  private val lineOffsets = Array(0, 8)

  private val vocab = ("the fast key order sort table scan merge part window small hash join " +
    "batch stream spark dup query plan index tree page shard token text data row column " +
    "file lake log commit state").split(" ")
  private def doc(words: Int): String = Array.fill(words)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  private val docs = Array.fill(256)(UTF8String.fromString(doc(20 + rnd.nextInt(180))))
  private val gramDocs = Array.fill(64)(UTF8String.fromString(doc(3)))

  // catalog parameters: Dedup.minhashDupPairs and simhashDupPairs defaults
  private val shingle = 3
  private val numHashes = 64
  private val textSeed = 42L

  private var sink = 0L

  /** Median ns per op over 5 batches, each repeated to at least 20 ms. */
  private def nsPerOp(opsPerCall: Int)(call: => Long): Double = {
    var reps = 1
    var t = 0L
    while ({ val t0 = System.nanoTime(); var i = 0; while (i < reps) { sink += call; i += 1 }
             t = System.nanoTime() - t0; t < 20000000L }) reps *= 2
    val samples = Array.fill(5) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { sink += call; i += 1 }
      (System.nanoTime() - t0).toDouble / reps / opsPerCall
    }.sorted
    samples(2)
  }

  private def probe(metric: String, timed: Boolean, ops: Int)(check: => Seq[String])(call: => Long): ProbeResult = {
    val start = System.nanoTime()
    val bad = check
    val ns = if (timed) nsPerOp(ops)(call) else 0.0
    ProbeResult(metric, ns, bad.size, bad.take(3).mkString("; "), start, System.nanoTime())
  }

  private def pip(): Long = {
    var inside = 0L
    var d = 0
    while (d < nDiamonds) {
      var p = 0
      while (p < nPoints) {
        if (Kernels.pointIntersectsPolygon(px(p), py(p), rings(d), ringOffsets)) inside += 1
        p += 1
      }
      d += 1
    }
    inside
  }

  private val boxes = rings.flatMap(Kernels.totalBounds)
  private val queries = Array.fill(512) {
    val x0 = rnd.nextInt(1000).toDouble; val y0 = rnd.nextInt(1000).toDouble
    Array(x0, y0, x0 + rnd.nextInt(100), y0 + rnd.nextInt(100))
  }
  private def bruteForce(q: Array[Double]): Seq[Int] = (0 until nDiamonds).filter { i =>
    !(boxes(4 * i + 2) < q(0) || boxes(4 * i) > q(2) || boxes(4 * i + 3) < q(1) || boxes(4 * i + 1) > q(3))
  }

  private val geoms: Array[Array[Double]] =
    rings ++ lines ++ Array.tabulate(nPoints)(i => Array(px(i), py(i)))
  private def wkbOf(g: Array[Double]): Array[Byte] = g.length match {
    case 2 => Wkb.point(g(0), g(1))
    case 8 => Wkb.lineString(g)
    case _ => Wkb.polygon(g, ringOffsets)
  }
  private def wktOf(g: Array[Double]): String = g.length match {
    case 2 => Wkt.point(g(0), g(1))
    case 8 => Wkt.lineString(g)
    case _ => Wkt.polygon(g, ringOffsets)
  }

  def run(timed: Boolean): Seq[ProbeResult] = {
    val wkbs = geoms.map(wkbOf)
    val wkts = geoms.map(wktOf)
    val tree = HilbertRtree.build(boxes)
    Seq(
      probe("geom.pip_ns", timed, nPoints * nDiamonds) {
        for (d <- 0 until nDiamonds; p <- 0 until nPoints
             if Kernels.pointIntersectsPolygon(px(p), py(p), rings(d), ringOffsets) !=
               (math.abs(px(p) - cx(d)) + math.abs(py(p) - cy(d)) < radius(d)))
        yield s"pip(${px(p)},${py(p)}) in diamond $d"
      }(pip()),
      probe("geom.area_ns", timed, nDiamonds) {
        (0 until nDiamonds).filter(d => Kernels.area(rings(d), ringOffsets) != 2 * radius(d) * radius(d))
          .map(d => s"area of diamond $d")
      } {
        var a = 0.0; var d = 0
        while (d < nDiamonds) { a += Kernels.area(rings(d), ringOffsets); d += 1 }
        a.toLong
      },
      probe("geom.length_ns", timed, nLines) {
        (0 until nLines).filter(i => Kernels.lineLength(lines(i), lineOffsets) != lineLengths(i))
          .map(i => s"length of line $i")
      } {
        var a = 0.0; var i = 0
        while (i < nLines) { a += Kernels.lineLength(lines(i), lineOffsets); i += 1 }
        a.toLong
      },
      probe("geom.bounds_ns", timed, nDiamonds) {
        (0 until nDiamonds).filterNot { d =>
          Kernels.totalBounds(rings(d)).sameElements(
            Array(cx(d) - radius(d), cy(d) - radius(d), cx(d) + radius(d), cy(d) + radius(d)))
        }.map(d => s"bounds of diamond $d")
      } {
        var a = 0.0; var d = 0
        while (d < nDiamonds) { a += Kernels.totalBounds(rings(d))(2); d += 1 }
        a.toLong
      },
      probe("geom.hilbert_ns", timed, nPoints) {
        (0 until nPoints).filter { i =>
          val (x, y) = (px(i).toLong, py(i).toLong)
          HilbertCurve.coordinateFromDistance(10, HilbertCurve.distanceFromCoordinate(10, x, y)) != ((x, y))
        }.map(i => s"hilbert round trip of point $i")
      } {
        var a = 0L; var i = 0
        while (i < nPoints) { a += HilbertCurve.distanceFromCoordinate(10, px(i).toLong, py(i).toLong); i += 1 }
        a
      },
      probe("geom.rtree_probe_ns", timed, queries.length) {
        queries.indices.filter(i => tree.intersects(queries(i)(0), queries(i)(1), queries(i)(2), queries(i)(3))
          .sorted.toSeq != bruteForce(queries(i))).map(i => s"rtree query $i")
      } {
        var a = 0L; var i = 0
        while (i < queries.length) {
          val q = queries(i); a += tree.intersects(q(0), q(1), q(2), q(3)).length; i += 1
        }
        a
      },
      probe("geom.wkb_parse_ns", timed, wkbs.length) {
        geoms.indices.filterNot(i => Wkb.parse(wkbs(i)).values.sameElements(geoms(i)))
          .map(i => s"wkb round trip of geometry $i")
      } {
        var a = 0L; var i = 0
        while (i < wkbs.length) { a += Wkb.parse(wkbs(i)).values.length; i += 1 }
        a
      },
      probe("geom.wkt_parse_ns", timed, wkts.length) {
        geoms.indices.filterNot(i => Wkt.parse(wkts(i)).values.sameElements(geoms(i)))
          .map(i => s"wkt round trip of geometry $i")
      } {
        var a = 0L; var i = 0
        while (i < wkts.length) { a += Wkt.parse(wkts(i)).values.length; i += 1 }
        a
      },
      probe("text.minhash_ns", timed, docs.length) {
        // the shingles of "a b" include those of a and of b, so its
        // signature is no larger in any slot; fewer tokens than one
        // shingle leave every slot at Long.MaxValue
        def mh(t: UTF8String) = TextEval.minhash(t, shingle, numHashes, textSeed).toLongArray()
        val union = docs.indices.init.filterNot { i =>
          val (a, b) = (mh(docs(i)), mh(docs(i + 1)))
          val ab = mh(UTF8String.concatWs(UTF8String.fromString(" "), docs(i), docs(i + 1)))
          ab.indices.forall(j => ab(j) <= math.min(a(j), b(j)))
        }.map(i => s"minhash union bound for documents $i, ${i + 1}")
        val short = mh(UTF8String.fromString("key order")).exists(_ != Long.MaxValue)
        union ++ (if (short) Seq("minhash of a document shorter than one shingle") else Nil)
      } {
        var a = 0L; var i = 0
        while (i < docs.length) { a += TextEval.minhash(docs(i), shingle, numHashes, textSeed).getLong(0); i += 1 }
        a
      },
      probe("text.simhash_ns", timed, docs.length) {
        // each bit is the majority vote of the gram hashes' bits; a
        // one-gram document's fingerprint is that gram's hash
        def vote(t: UTF8String): Long = {
          val toks = TextHashing.tokenHashes(t.getBytes, textSeed)
          val grams = (0 to toks.length - shingle).map(i => TextHashing.gramHash(toks, i, shingle, textSeed))
          (0 until 64).foldLeft(0L) { (out, b) =>
            if (grams.count(h => ((h >>> b) & 1L) == 1L) * 2 > grams.size) out | (1L << b) else out
          }
        }
        val one = gramDocs.indices.filter { i =>
          val toks = TextHashing.tokenHashes(gramDocs(i).getBytes, textSeed)
          TextEval.simhash(gramDocs(i), shingle, textSeed) != TextHashing.gramHash(toks, 0, shingle, textSeed)
        }.map(i => s"simhash of one-gram document $i")
        one ++ docs.indices.filter(i => TextEval.simhash(docs(i), shingle, textSeed) != vote(docs(i)))
          .map(i => s"simhash majority vote of document $i")
      } {
        var a = 0L; var i = 0
        while (i < docs.length) { a += TextEval.simhash(docs(i), shingle, textSeed); i += 1 }
        a
      })
  }

  /** Keeps the timed loops' results observable. */
  def checksum: Long = sink
}
