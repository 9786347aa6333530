package graft.geometry

import org.locationtech.jts.geom.{Envelope, Geometry, IntersectionMatrix}
import org.locationtech.jts.operation.union.UnaryUnionOp
import scala.jdk.CollectionConverters._
import graft.functions.Jts

/** Exact DE-9IM via θ-grid segments for POLYGONAL operands — the full
  * form of DS-JedAI's segmented verification (J8,
  * `model/entities/segmented/DecomposedEntity.scala`), derived here
  * with an exactness argument instead of the reference's heuristic
  * accumulation:
  *
  *  - Candidate segments = those whose envelope intersects the OTHER
  *    geometry's envelope. Every point of A inside env(B) lies in a
  *    candidate segment, so A is fully represented there.
  *  - A' = union(candidate segments of A) dissolves cut edges between
  *    included segments; its only fake boundary is the frontier
  *    against non-candidate segments — and every non-candidate
  *    segment is disjoint from env(B), so fake boundary cannot touch
  *    closed B. Hence the II/IB/BI/BB entries of relate(A', B') are
  *    those of relate(A, B), exactly.
  *  - Non-candidate segments of A exist only if env(A) ⊄ env(B), and
  *    then some of A's interior AND boundary provably lie outside
  *    env(B) ⊇ B (a polygon's boundary touches every side of its own
  *    envelope), fixing the exterior-column entries: IE=2, BE=1.
  *    Symmetrically for B's exterior row. EE is always 2.
  *
  * The win: relate cost drops from O(|A|+|B|) to O(neighbourhood of
  * the smaller operand), which is the point when one geometry is
  * enormous (coastlines, admin regions) and the other is local.
  */
object SegmentedIM {

  /** Exact DE-9IM; falls back to [[Jts.relate]] for non-polygonal
    * operands or when segmentation cannot save work. */
  def im(a: Geometry, b: Geometry, thetaX: Double, thetaY: Double): IntersectionMatrix =
    im(a, b,
      Decompose.gridSegments(a, thetaX, thetaY),
      Decompose.gridSegments(b, thetaX, thetaY))

  /** Variant with pre-computed (cached) segment lists — decomposition
    * amortizes across the many pairs a geometry participates in.
    *
    * Candidate selection is a two-stage screen, per segment:
    *  1. envelope test against the OTHER geometry's envelope;
    *  2. tile-ADJACENCY test against the other's occupied tile set
    *     (the per-entity segment index of the reference's
    *     IndexedDecomposedEntity, `segmented/IndexedDecomposedEntity
    *     .scala:14-34`): keep a segment only if its tile is within
    *     Chebyshev distance 1 of a tile the other geometry occupies.
    * An excluded segment is then ≥ 1 full tile away from every point
    * of the other geometry — strictly disjoint from it — which is
    * exactly the condition the exactness argument above needs (the
    * plain envelope test proves the same via env(B) ⊇ B). The
    * adjacency screen is much tighter when the bodies do not approach
    * each other even though their MBRs overlap (L-shapes, diagonal
    * neighbours), often emptying a candidate set entirely → the
    * disjoint matrix is returned with NO JTS relate at all. */
  def im(a: Geometry, b: Geometry,
         segsAIn: => Seq[(Long, Long, Geometry)],
         segsBIn: => Seq[(Long, Long, Geometry)]): IntersectionMatrix = {
    if (a.getDimension != 2 || b.getDimension != 2) return Jts.relate(a, b)
    val envA = a.getEnvelopeInternal
    val envB = b.getEnvelopeInternal
    if (!envA.intersects(envB)) return Jts.relate(a, b) // disjoint: cheap anyway

    val segsA = segsAIn
    val segsB = segsBIn
    def tileSet(segs: Seq[(Long, Long, Geometry)]): java.util.HashSet[Long] = {
      val s = new java.util.HashSet[Long](segs.size * 2)
      segs.foreach { case (sx, sy, _) => s.add((sx << 32) | (sy & 0xFFFFFFFFL)) }
      s
    }
    val tilesA = tileSet(segsA)
    val tilesB = tileSet(segsB)
    def nearOther(sx: Long, sy: Long, other: java.util.HashSet[Long]): Boolean = {
      var dx = -1L
      while (dx <= 1) {
        var dy = -1L
        while (dy <= 1) {
          if (other.contains(((sx + dx) << 32) | ((sy + dy) & 0xFFFFFFFFL))) return true
          dy += 1
        }
        dx += 1
      }
      false
    }
    val candA = segsA.collect {
      case (sx, sy, g)
        if g.getEnvelopeInternal.intersects(envB) && nearOther(sx, sy, tilesB) => g
    }
    val candB = segsB.collect {
      case (sx, sy, g)
        if g.getEnvelopeInternal.intersects(envA) && nearOther(sx, sy, tilesA) => g
    }
    val aTrimmed = candA.size < segsA.size
    val bTrimmed = candB.size < segsB.size
    if (!aTrimmed && !bTrimmed) return Jts.relate(a, b) // no savings possible

    if (candA.isEmpty || candB.isEmpty) {
      // geometries cannot touch: both polygonal → canonical disjoint
      return new IntersectionMatrix("FF2FF1212")
    }

    val aPart = if (aTrimmed) UnaryUnionOp.union(candA.asJava) else a
    val bPart = if (bTrimmed) UnaryUnionOp.union(candB.asJava) else b
    val im = Jts.relate(aPart, bPart)
    if (aTrimmed) {
      im.set(0, 2, 2) // Interior(A) ∩ Exterior(B)
      im.set(1, 2, 1) // Boundary(A) ∩ Exterior(B)
    }
    if (bTrimmed) {
      im.set(2, 0, 2) // Exterior(A) ∩ Interior(B)
      im.set(2, 1, 1) // Exterior(A) ∩ Boundary(B)
    }
    im.set(2, 2, 2)
    im
  }

  /** The reference's RANK-ordered EARLY-EXIT accumulation (J8,
    * `model/entities/segmented/IndexedDecomposedEntity.scala:36-96` +
    * `utils/geometryUtils/EnvelopeOp.scala:14-30`), FLAG-GATED and
    * default-off: relate neighbourhood segment pairs in envelope-rank
    * order (shared-extent RANK1 first, then partial-overlap RANK2,
    * containment RANK3; disjoint RANK0 never verified), union the
    * intersecting matrices, and stop once the intersects decision is
    * made (the reference's literal stop rule — isEquals &&
    * (isCrosses || isOverlaps) — is unsatisfiable for areal operands,
    * so deciding intersects is the semantically honest exit).
    *
    * NOT the default because partial accumulation can under-set
    * exterior/boundary entries (segment cut edges are real boundaries
    * of the segment polygons — the reference's own WARNING at
    * `IndexedDecomposedEntity.scala:57-59` — and pairs after the exit
    * point never contribute), so only the intersects DECISION is
    * contractual; [[im]] keeps the provably exact full matrix. The
    * differential spec pins intersects-equivalence against [[im]]. */
  def imEarlyExit(a: Geometry, b: Geometry,
                  segsAIn: => Seq[(Long, Long, Geometry)],
                  segsBIn: => Seq[(Long, Long, Geometry)]): IntersectionMatrix = {
    if (a.getDimension != 2 || b.getDimension != 2) return Jts.relate(a, b)
    if (!a.getEnvelopeInternal.intersects(b.getEnvelopeInternal))
      return new IntersectionMatrix("FF2FF1212")
    // Pair segments within a Chebyshev-distance-1 tile neighbourhood —
    // same screen as [[im]]. Exact-tile-only pairing would miss two
    // polygons touching exactly ON a θ-grid line: each side's
    // degenerate clip is dropped in the neighbouring column, so their
    // segments never share a tile even though the bodies touch.
    val segsA = segsAIn.toIndexedSeq
    val segsB = segsBIn.toIndexedSeq
    val byTileB = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
    segsB.zipWithIndex.foreach { case ((x, y, _), i) =>
      val k = (x << 32) | (y & 0xFFFFFFFFL)
      var l = byTileB.get(k)
      if (l == null) { l = new java.util.ArrayList[Int](); byTileB.put(k, l) }
      l.add(i)
    }
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Geometry, Geometry)]
    segsA.foreach { case (x, y, ga) =>
      val seen = new java.util.HashSet[Int]()
      var dx = -1L
      while (dx <= 1) {
        var dy = -1L
        while (dy <= 1) {
          val l = byTileB.get(((x + dx) << 32) | ((y + dy) & 0xFFFFFFFFL))
          if (l != null) {
            val it = l.iterator()
            while (it.hasNext) {
              val i = it.next()
              if (seen.add(i)) pairs += ((ga, segsB(i)._3))
            }
          }
          dy += 1
        }
        dx += 1
      }
    }
    if (pairs.isEmpty) return new IntersectionMatrix("FF2FF1212")
    // EnvelopeOp.getIntersectingEnvelopesType, mapped to sort keys
    // (enumeration order RANK1 < RANK2 < RANK3 < RANK0)
    def rank(g1: Geometry, g2: Geometry): Int = {
      val e1 = g1.getEnvelopeInternal; val e2 = g2.getEnvelopeInternal
      if (e1.disjoint(e2)) 3 // RANK0
      else if (e1.contains(e2) || e2.contains(e1)) 2 // RANK3
      else if ((e1.getMinX == e2.getMinX && e1.getMaxX == e2.getMaxX) ||
               (e1.getMinY == e2.getMinY && e1.getMaxY == e2.getMaxY)) 0 // RANK1
      else 1 // RANK2
    }
    val sorted = pairs.map(p => (rank(p._1, p._2), p)).sortBy(_._1)
    val im = new IntersectionMatrix("FFFFFFFFF")
    var intersected = false
    val it = sorted.iterator
    var done = false
    while (!done && it.hasNext) {
      val (r, (g1, g2)) = it.next()
      if (r == 3) done = true // sorted: every remaining pair is RANK0
      else {
        val m = Jts.relate(g1, g2)
        if (m.isIntersects) {
          im.add(m)
          intersected = true
          // The intersects DECISION — this variant's whole contract —
          // is now made; stop. (The reference's own stop rule,
          // isEquals && (isCrosses || isOverlaps), is unsatisfiable
          // for areal operands: JTS isCrosses(2,2) is always false
          // and isEquals contradicts isOverlaps — upstream's exit
          // never fires on polygon pairs. Since only isIntersects is
          // contractual here, deciding it IS the exit.)
          done = true
        }
      }
    }
    // No segment pair intersected → the bodies are disjoint; return the
    // canonical areal disjoint matrix, not all-'F' (callers reading the
    // exterior entries would otherwise see an impossible matrix).
    if (!intersected) new IntersectionMatrix("FF2FF1212") else im
  }
}
