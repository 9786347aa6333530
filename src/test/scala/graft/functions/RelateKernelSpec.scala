package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.io.WKTReader
import graft.TestGeoms

/** Parity of the engine's DE-9IM kernel ([[Jts.relate]]: RectIM for
  * rectangle pairs, RelateNG otherwise) with the topology-graph JTS
  * `Geometry.relate` (RelateOp) it replaced, matrix string for matrix
  * string, in both operand orders. Inputs are valid geometries, the
  * only kind the loaders let through.
  */
class RelateKernelSpec extends AnyFunSuite {
  private val rd = new WKTReader(Jts.factory)
  private def g(wkt: String): Geometry = rd.read(wkt)

  private def assertParity(pairs: Seq[(Geometry, Geometry)]): Unit =
    for ((a, b) <- pairs; (x, y) <- Seq((a, b), (b, a))) {
      assert(x.isValid && y.isValid, s"fixture invalid: $x / $y")
      assert(Jts.relate(x, y).toString === x.relate(y).toString, s"$x / $y")
    }

  private def allPairs(gs: Seq[Geometry]): Seq[(Geometry, Geometry)] =
    for (a <- gs; b <- gs) yield (a, b)

  private def box(x0: Double, y0: Double, x1: Double, y1: Double) =
    g(s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))")

  /** Star polygon with `n` vertices on a 0.5 grid, so that vertices
    * and edges of different stars coincide often; snapping may break
    * validity, and invalid shapes are dropped as the loaders drop them. */
  private def star(rnd: scala.util.Random, n: Int, cx: Double, cy: Double,
                   r: Double): Geometry = {
    def snap(v: Double) = math.rint(v * 2) / 2
    val pts = (0 until n).map { i =>
      val ang = 2 * math.Pi * i / n
      val ri = r * (0.5 + rnd.nextDouble())
      new Coordinate(snap(cx + ri * math.cos(ang)), snap(cy + ri * math.sin(ang)))
    }.distinct
    if (pts.size < 3) null
    else Jts.factory.createPolygon((pts :+ pts.head).toArray)
  }

  test("rectangles: disjoint, corner and edge touch, overlap, nesting, equality") {
    val rnd = new scala.util.Random(11)
    val boxes = (0 until 40).map { _ =>
      val x = rnd.nextInt(8); val y = rnd.nextInt(8)
      box(x, y, x + 1 + rnd.nextInt(4), y + 1 + rnd.nextInt(4))
    }
    assertParity(allPairs(boxes))
  }

  test("polygons with and without holes") {
    val rnd = new scala.util.Random(12)
    val gs = (0 until 15).map(_ => g(TestGeoms.starPolygon(rnd,
      rnd.nextDouble() * 30, rnd.nextDouble() * 30, 4 + rnd.nextDouble() * 6))) ++
      (0 until 15).map(_ => g(TestGeoms.holePolygon(rnd,
        rnd.nextDouble() * 30, rnd.nextDouble() * 30, 4 + rnd.nextDouble() * 6)))
    assertParity(allPairs(gs))
  }

  test("shared-edge, touching, equal and nested pairs") {
    val tri = g("POLYGON((0 0, 4 0, 2 3, 0 0))")
    assertParity(Seq(
      // shared full edge, shared partial edge, single shared vertex
      g("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))") -> g("POLYGON((2 0, 4 0, 4 2, 2 2, 2 0))"),
      g("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))") -> g("POLYGON((2 1, 4 1, 4 3, 2 3, 2 1))"),
      tri -> g("POLYGON((4 0, 6 0, 5 -2, 4 0))"),
      // vertex of one on an edge of the other
      tri -> g("POLYGON((2 -2, 3 -2, 2 0, 2 -2))"),
      // equal, with a different start vertex and orientation
      tri -> g("POLYGON((2 3, 4 0, 0 0, 2 3))"),
      // nested strictly, nested touching the shell from inside
      tri -> g("POLYGON((1.5 0.5, 2.5 0.5, 2 1.5, 1.5 0.5))"),
      tri -> g("POLYGON((1 0, 3 0, 2 1, 1 0))"),
      // inside a hole, filling a hole exactly, touching a hole's ring
      g("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))") ->
        g("POLYGON((4 4, 6 4, 6 6, 4 6, 4 4))"),
      g("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))") ->
        g("POLYGON((3 3, 7 3, 7 7, 3 7, 3 3))"),
      g("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))") ->
        g("POLYGON((3 3, 5 3, 5 5, 3 5, 3 3))")))
  }

  test("multipolygons") {
    val mp = g("MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 8 5, 6 8, 5 5)))")
    assertParity(allPairs(Seq(mp,
      g("MULTIPOLYGON(((2 0, 3 0, 3 2, 2 2, 2 0)), ((6 5, 7 5, 6 6, 6 5)))"),
      g("MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)), ((10 10, 11 10, 11 11, 10 11, 10 10)))"),
      g("POLYGON((1 1, 6 1, 6 6, 1 6, 1 1))"),
      g("POLYGON((-1 -1, 9 -1, 9 9, -1 9, -1 -1))"),
      box(0, 0, 2, 2))))
  }

  test("line/polygon, point/polygon and line/line pairs") {
    val poly = g("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    val lines = Seq(
      g("LINESTRING(-2 5, 12 5)"),          // crosses shell and hole
      g("LINESTRING(0 0, 10 0)"),           // along an edge
      g("LINESTRING(1 1, 3 3)"),            // inside
      g("LINESTRING(-5 -5, 0 0)"),          // touches a corner
      g("LINESTRING(4 4, 6 4, 6 6)"),       // on the hole ring
      g("LINESTRING(20 20, 25 25)"),        // far
      g("LINESTRING(1 1, 3 3, 1 3, 3 1)"),  // self-crossing
      g("MULTILINESTRING((1 1, 2 2), (2 2, 3 1))"),
      g("LINEARRING(1 1, 2 1, 2 2, 1 1)"))
    val points = Seq("POINT(5 5)", "POINT(2 2)", "POINT(0 5)", "POINT(4 5)",
      "POINT(0 0)", "POINT(20 20)", "MULTIPOINT((2 2), (20 20))",
      "MULTIPOINT((0 0), (5 5))").map(g)
    assertParity(lines.map(poly -> _) ++ points.map(poly -> _) ++
      allPairs(lines) ++ (for (l <- lines; p <- points) yield (l, p)))
  }

  test("seeded fuzz: star polygons with 8-47 vertices") {
    val rnd = new scala.util.Random(20240)
    val stars = Iterator.continually(star(rnd, 8 + rnd.nextInt(40),
      rnd.nextDouble() * 24, rnd.nextDouble() * 24, 2 + rnd.nextDouble() * 6))
      .filter(s => s != null && s.isValid).take(120).toIndexedSeq
    val pairs = allPairs(stars)
      .filter { case (a, b) => a.getEnvelopeInternal.intersects(b.getEnvelopeInternal) }
    assert(pairs.size > 1000) // mostly MBR-overlapping pairs, as GIA.nt verifies
    assert(pairs.count { case (a, b) => a.touches(b) } > 0) // grid snap makes contacts
    assertParity(pairs)
  }

  test("de9im verifies with st_im; the segmented expression is not planned") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.SpatialJoin
    def entities(rows: Seq[(String, String)]) =
      SpatialJoin.entities(rows.toDF("id", "wkt"), col("id"), col("wkt"))
    val joined = SpatialJoin.de9im(entities(TestGeoms.corpus(seed = 5, n = 30, world = 40)),
      entities(TestGeoms.corpus(seed = 6, n = 30, world = 40)))
    assert(joined.collect().nonEmpty)
    val plan = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("stim("), plan)
    assert(!plan.contains("stimadaptive"), plan)
  }
}
