package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.Path
import java.util.Random
import org.locationtech.jts.geom.Polygon
import org.locationtech.jts.io.WKTReader
import org.locationtech.jts.operation.valid.IsValidOp

/** Seeded input generator. Writes the reference's delimited-WKT format
  * (id in column 0, WKT in column 1, tab-separated, no header) with
  * ids 0..n-1, so the oracle can index entities by id.
  *
  * Polygons are star-shaped around their centre: vertex angles are
  * strictly increasing with a guaranteed gap, so every ring is simple.
  * Each polygon is still re-parsed from its own text and checked with
  * `IsValidOp` (and redrawn if invalid), so rows written equal the
  * entities the program must load. Coordinates are written as exact
  * six-decimal fixed-point text: the program and the oracle parse the
  * same digits.
  */
object Gen {

  /** `maxVerts == 0` means points. Radii are log-normal around
    * `medianRadius` with σ = [[Sigma]]. */
  final case class Shapes(count: Int, minVerts: Int, maxVerts: Int,
                          medianRadius: Double) {
    def points: Boolean = maxVerts == 0
  }

  final case class Corpus(name: String, source: Shapes, target: Shapes,
                          world: Double)

  /** What one side of a written corpus looks like. */
  final case class SideStats(rows: Int, meanVertices: Double, mbrFill: Double)

  val Sigma = 0.6

  private def count(full: Int, scale: Double): Int =
    math.max(4, math.round(full * scale).toInt)

  /** `scale` = 1 is 25k × 25k polygons in a 495² world; the world side
    * shrinks with √scale so the density (and candidates per entity)
    * stays the same at every size. */
  def giant(scale: Double): Corpus = {
    val polys = Shapes(count(25000, scale), 8, 47, 1.0)
    Corpus("giant", polys, polys, 495 * math.sqrt(scale))
  }

  /** `scale` = 1 is 4k large polygons over 500k points in a 1000² world. */
  def pip(scale: Double): Corpus =
    Corpus("pip", Shapes(count(4000, scale), 64, 255, 6.0),
      Shapes(count(500000, scale), 0, 0, 0.0), 1000 * math.sqrt(scale))

  /** Files per side. A side is a directory of part files, as Spark
    * writes them, so that reading and parsing run in parallel even on
    * the small corpora the benchmark uses. */
  val Parts = 4

  /** Write the `source` and `target` directories under `dir`. */
  def write(c: Corpus, seed: Long, dir: Path): (SideStats, SideStats) =
    (side(c.source, c.world, new Random(seed * 1000003L + 1), dir.resolve("source")),
     side(c.target, c.world, new Random(seed * 1000003L + 2), dir.resolve("target")))

  private def side(s: Shapes, world: Double, rnd: Random, path: Path): SideStats = {
    java.nio.file.Files.createDirectories(path)
    val parts = (0 until Parts).map(i => new BufferedWriter(
      new FileWriter(path.resolve(s"part-$i.tsv").toFile), 1 << 20))
    val reader = new WKTReader()
    var verts = 0L
    var fill = 0.0
    try {
      for (id <- 0 until s.count) {
        val cx = rnd.nextDouble() * world
        val cy = rnd.nextDouble() * world
        val wkt =
          if (s.points) {
            val sb = new StringBuilder("POINT (")
            coord(sb, cx); sb.append(' '); coord(sb, cy)
            sb.append(')').toString
          } else {
            var text: String = null
            while (text == null) {
              val r = s.medianRadius * math.exp(Sigma * rnd.nextGaussian())
              val n = s.minVerts + rnd.nextInt(s.maxVerts - s.minVerts + 1)
              val candidate = star(rnd, cx, cy, r, n)
              val g = reader.read(candidate).asInstanceOf[Polygon]
              if (new IsValidOp(g).isValid) {
                text = candidate
                verts += n
                fill += g.getArea / g.getEnvelopeInternal.getArea
              }
            }
            text
          }
        val out = parts(id * Parts / s.count)
        out.write(Integer.toString(id)); out.write('\t'); out.write(wkt); out.write('\n')
      }
    } finally parts.foreach(_.close())
    if (s.points) SideStats(s.count, 1.0, 1.0)
    else SideStats(s.count, verts.toDouble / s.count, fill / s.count)
  }

  private def star(rnd: Random, cx: Double, cy: Double, r: Double, n: Int): String = {
    val step = 2 * math.Pi / n
    val sb = new StringBuilder("POLYGON ((")
    var first = ""
    for (i <- 0 until n) {
      val a = (i + 0.1 + 0.8 * rnd.nextDouble()) * step
      val rad = r * (0.4 + 0.6 * rnd.nextDouble())
      val start = sb.length
      coord(sb, cx + rad * math.cos(a)); sb.append(' '); coord(sb, cy + rad * math.sin(a))
      if (i == 0) first = sb.substring(start)
      sb.append(", ")
    }
    sb.append(first).append("))").toString
  }

  /** Six-decimal fixed point, no exponent form. */
  private def coord(sb: StringBuilder, v: Double): Unit = {
    val m = math.round(v * 1e6)
    if (m < 0) sb.append('-')
    val a = math.abs(m)
    val frac = (a % 1000000).toString
    sb.append(a / 1000000).append('.')
    for (_ <- frac.length until 6) sb.append('0')
    sb.append(frac)
  }
}
