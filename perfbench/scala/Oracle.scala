package perfbench

import java.nio.file.{Files, Path}
import java.util.stream.IntStream
import scala.jdk.CollectionConverters._
import org.locationtech.jts.geom.{Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.WKTReader

/** What the oracle knows about one corpus: named totals, plus (for the
  * polygon corpus) every MBR-candidate pair, keyed `s << 32 | t`, with
  * whether JTS says it intersects. */
final case class Truth(totals: Map[String, Long], pairs: Map[Long, Boolean]) {
  def apply(key: String): Long = totals(key)

  def save(dir: Path): Unit = {
    Files.write(dir.resolve("truth.txt"),
      totals.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.asJava)
    Files.write(dir.resolve("pairs.txt"), pairs.toSeq.sortBy(_._1).map {
      case (k, q) => s"${k >>> 32}\t${k & 0xFFFFFFFFL}\t${if (q) 1 else 0}"
    }.asJava)
  }
}

object Truth {
  def load(dir: Path): Truth = {
    def rows(f: String) =
      Files.readAllLines(dir.resolve(f)).asScala.filter(_.nonEmpty).map(_.split('\t'))
    Truth(rows("truth.txt").map(r => r(0) -> r(1).toLong).toMap,
      rows("pairs.txt").map(r =>
        Oracle.key(r(0).toInt, r(1).toInt) -> (r(2) == "1")).toMap)
  }
}

/** Independent correctness oracle: the input files parsed straight into
  * JTS on the driver, candidates from a JTS `STRtree` over envelopes,
  * and one plain `relate` / prepared `contains` per candidate. It
  * shares no code with the program (no WKB round trip, no θ-tiling, no
  * adaptive or segmented verification) and is never timed.
  */
object Oracle {
  /** Relation columns of `SpatialLink.relationCounts`, in order. */
  val Relations: Seq[String] = Seq("intersects", "contains", "within", "covers",
    "coveredby", "crosses", "overlaps", "touches", "equals")

  def key(s: Int, t: Int): Long = (s.toLong << 32) | (t.toLong & 0xFFFFFFFFL)

  /** Order-free hash of a pair set: sum of mixed pair keys. */
  def mix(s: Int, t: Int): Long = {
    var z = key(s, t) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Every `id<TAB>WKT` row of the part files in `dir`, indexed by id. */
  def read(dir: Path): Array[Geometry] = {
    val files = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
    val lines = files.flatMap(Files.readAllLines(_).asScala).filter(_.nonEmpty).toArray
    val out = new Array[Geometry](lines.length)
    val factory = new GeometryFactory()
    val reader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
    IntStream.range(0, lines.length).parallel().forEach { i =>
      val tab = lines(i).indexOf('\t')
      out(lines(i).substring(0, tab).toInt) = reader.get().read(lines(i).substring(tab + 1))
    }
    out
  }

  private def tree(gs: Array[Geometry]): STRtree = {
    val t = new STRtree()
    gs.indices.foreach(i => t.insert(gs(i).getEnvelopeInternal, Integer.valueOf(i)))
    t.build()
    t
  }

  private def hits(t: STRtree, g: Geometry): Seq[Int] =
    t.query(g.getEnvelopeInternal).asScala.map(_.asInstanceOf[Integer].intValue).toSeq

  /** Full DE-9IM over every MBR-intersecting pair. */
  def polygons(source: Array[Geometry], target: Array[Geometry]): Truth = {
    val index = tree(target)
    val perSource = new Array[Array[(Int, Array[Boolean])]](source.length)
    IntStream.range(0, source.length).parallel().forEach { s =>
      val a = source(s)
      perSource(s) = hits(index, a).map { t =>
        val b = target(t)
        val im = a.relate(b)
        val (d1, d2) = (a.getDimension, b.getDimension)
        t -> Array(!im.isDisjoint, im.isContains, im.isWithin, im.isCovers,
          im.isCoveredBy, im.isCrosses(d1, d2), im.isOverlaps(d1, d2),
          im.isTouches(d1, d2), im.isEquals(d1, d2))
      }.toArray
    }
    val counts = new Array[Long](Relations.length)
    val pairs = Map.newBuilder[Long, Boolean]
    var candidates = 0L
    for (s <- source.indices; (t, flags) <- perSource(s)) {
      candidates += 1
      for (i <- flags.indices if flags(i)) counts(i) += 1
      pairs += key(s, t) -> flags(0)
    }
    Truth(Relations.zip(counts).toMap + ("candidates" -> candidates), pairs.result())
  }

  /** `contains(polygon, point)` over every MBR-candidate pair. */
  def pointsInPolygons(source: Array[Geometry], target: Array[Geometry]): Truth = {
    val index = tree(target)
    val cands = new Array[Long](source.length)
    val found = new Array[Long](source.length)
    val hash = new Array[Long](source.length)
    IntStream.range(0, source.length).parallel().forEach { s =>
      val polygon = PreparedGeometryFactory.prepare(source(s))
      for (t <- hits(index, source(s))) {
        cands(s) += 1
        if (polygon.contains(target(t))) { found(s) += 1; hash(s) += mix(s, t) }
      }
    }
    Truth(Map("candidates" -> cands.sum, "pairs" -> found.sum, "hash" -> hash.sum),
      Map.empty)
  }
}
