package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.SpatialLink
import graft.functions.GeomFunctions.{st_im_adaptive, st_predicate, tile_cover}
import graft.operators.{Progressive, Ranks, SpatialJoin}
import graft.sources.SpatialIO

/** The outcome of checking one job's output against the oracle. */
final case class Verdict(ok: Boolean, detail: String, recall: Double,
                         precision: Double)

/** One benchmark workload: the job a user runs through the public API,
  * the same job cut at each layer boundary for the traced run, and the
  * check of either's output against the oracle. */
sealed trait Workload {
  type Out
  def name: String
  def corpus(scale: Double): Gen.Corpus
  /** `input` holds the properties `prepare` recorded for the corpus
    * (see `Main`); the job itself reads only the files in `dir`. */
  def job(spark: SparkSession, dir: Path, input: Input): Out
  def traced(spark: SparkSession, dir: Path, input: Input, t: Tracer): Out
  def check(out: Out, truth: Truth, input: Input): Verdict
}

object Workload {
  /** Input size when `--scale` is not given, as a share of the full
    * corpora of [[Gen]]. It is set by the benchmark's time budget: three
    * JVM start-ups, a cold job, the warm-up and the warm window must fit
    * in about 50 s per run on a 4-core host. */
  val DefaultScale = 0.06

  val all: Seq[Workload] = Seq(GiantPolygons, PipContains, ProgressiveBudget)
  def of(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload: $name"))

  def load(spark: SparkSession, dir: Path, side: String): DataFrame =
    SpatialIO.readDelimitedWkt(spark, dir.resolve(side).toString, 0, 1, "\t")

  private def ids(df: DataFrame, p: String): DataFrame =
    df.select(col("id").as(s"${p}id"), col("geom").as(s"${p}geom"))

  /** Traced layer calls shared by the workloads. Every stage is
    * persisted and counted inside its span, so a span's time is that
    * layer's work; [[release]] drops the persisted frames. */
  final class Stages(spark: SparkSession, dir: Path, t: Tracer) {
    private var held: List[DataFrame] = Nil
    def keep(df: DataFrame): DataFrame = { held ::= df.persist(); df }
    def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held = Nil }

    def read(): (DataFrame, DataFrame) = t.span("sources.read") {
      val s = keep(load(spark, dir, "source"))
      val g = keep(load(spark, dir, "target"))
      val rows = s.count() + g.count()
      t.count("sources.entities", rows)
      (s, g)
    }

    def theta(source: DataFrame): SpatialJoin.Theta =
      t.span("spatialjoin.theta")(SpatialJoin.computeTheta(source))

    /** The candidate funnel before dedup: θ-tile rows, tile-join
      * pairs and their MBR survivors. Counting work only, so it sits in
      * its own `funnel` layer rather than in `spatialjoin`. */
    def funnel(s: DataFrame, g: DataFrame, theta: SpatialJoin.Theta): Unit =
      t.span("funnel.count") {
        def tiles(df: DataFrame, p: String) = keep(df.select(
          Seq("id", "minx", "miny", "maxx", "maxy").map(c => col(c).as(p + c)) :+
            explode(tile_cover(col("minx"), col("miny"), col("maxx"), col("maxy"),
              theta.x, theta.y)).as("tile"): _*))
        val (st, gt) = (tiles(s, "s_"), tiles(g, "t_"))
        val rows = st.count() + gt.count()
        val pairs = st.join(gt, "tile")
        val mbr = pairs.filter(
          col("s_minx") <= col("t_maxx") && col("s_maxx") >= col("t_minx") &&
          col("s_miny") <= col("t_maxy") && col("s_maxy") >= col("t_miny"))
        t.count("spatialjoin.tile_rows", rows)
        t.count("spatialjoin.replication",
          rows / t.counted("sources.entities").get)
        t.count("spatialjoin.tile_join_pairs", pairs.count())
        t.count("spatialjoin.mbr_pairs", mbr.count())
      }

    def candidates(s: DataFrame, g: DataFrame, theta: SpatialJoin.Theta): DataFrame =
      t.span("spatialjoin.candidates") {
        val c = keep(SpatialJoin.candidatePairsNarrow(s, g, theta))
        val n = c.count().toDouble
        t.count("spatialjoin.candidates", n)
        t.count("spatialjoin.dedup_ratio",
          t.counted("spatialjoin.mbr_pairs").get / math.max(1.0, n))
        c
      }

    /** Geometry blobs joined back onto narrow pairs, as
      * `SpatialJoin.candidatePairs` does. */
    def joinBack(pairs: DataFrame, s: DataFrame, g: DataFrame): DataFrame =
      t.span("spatialjoin.joinback") {
        val j = keep(pairs.join(ids(s, "s_"), "s_id").join(ids(g, "t_"), "t_id"))
        t.count("functions.relate_calls", j.count())
        j
      }

    def verify[A](qualifying: A => Long)(body: => A): A =
      t.span("functions.verify") {
        val out = body
        val q = qualifying(out).toDouble
        val calls = t.counted("functions.relate_calls").get
        t.count("functions.qualifying_pairs", q)
        t.count("functions.useful_ratio", q / math.max(1.0, calls))
        out
      }
  }

  def traced[A](spark: SparkSession, dir: Path, t: Tracer)(
      body: Stages => A): A = {
    val st = new Stages(spark, dir, t)
    try body(st) finally st.release()
  }
}

/** Full GIA.nt DE-9IM relation counts over two irregular-polygon sets.
  * Verification dominates; tiling does little. */
object GiantPolygons extends Workload {
  type Out = Map[String, Long]
  val name = "giant_polygons"
  def corpus(scale: Double): Gen.Corpus = Gen.giant(scale)
  private val columns = "verifications" +: Oracle.Relations

  private def counts(r: Row): Map[String, Long] =
    columns.map(c => c -> r.getAs[Long](c)).toMap

  def job(spark: SparkSession, dir: Path, input: Input): Out =
    counts(SpatialLink(Workload.load(spark, dir, "source"),
      Workload.load(spark, dir, "target")).relationCounts().head())

  def traced(spark: SparkSession, dir: Path, input: Input, t: Tracer): Out =
    Workload.traced(spark, dir, t) { st =>
      val (s, g) = st.read()
      val theta = st.theta(s)
      st.funnel(s, g, theta)
      val pairs = st.joinBack(st.candidates(s, g, theta), s, g)
      st.verify[Out](_("intersects")) {
        def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(c)
        counts(pairs
          .withColumn("im", st_im_adaptive(col("s_geom"), col("t_geom"), theta.x, theta.y))
          .select(col("im.*"))
          .agg(count(lit(1)).as("verifications"), Oracle.Relations.map(cnt): _*)
          .head())
      }
    }

  def check(out: Out, truth: Truth, input: Input): Verdict = {
    val expected = columns.map(c =>
      c -> truth(if (c == "verifications") "candidates" else c)).toMap
    val q = out("intersects").toDouble
    Verdict(out == expected, s"got $out, oracle $expected",
      q / math.max(1L, truth("intersects")), q / math.max(1L, out("verifications")))
  }
}

/** Point-in-polygon spatial join: few large polygons as SOURCE, many
  * points as TARGET. The candidate layer and the join-back of polygon
  * blobs dominate; verification is cheap. */
object PipContains extends Workload {
  type Out = Array[(Int, Int)]
  val name = "pip_contains"
  def corpus(scale: Double): Gen.Corpus = Gen.pip(scale)

  private def pairs(df: DataFrame): Out =
    df.collect().map(r => (r.getString(0).toInt, r.getString(1).toInt))

  def job(spark: SparkSession, dir: Path, input: Input): Out =
    pairs(SpatialLink(Workload.load(spark, dir, "source"),
      Workload.load(spark, dir, "target")).relate("contains"))

  def traced(spark: SparkSession, dir: Path, input: Input, t: Tracer): Out =
    Workload.traced(spark, dir, t) { st =>
      val (s, g) = st.read()
      val theta = st.theta(s)
      st.funnel(s, g, theta)
      val joined = st.joinBack(st.candidates(s, g, theta), s, g)
      st.verify[Out](_.length.toLong) {
        pairs(joined.filter(st_predicate(col("s_geom"), col("t_geom"), "contains"))
          .select(col("s_id"), col("t_id")))
      }
    }

  def check(out: Out, truth: Truth, input: Input): Verdict = {
    val hash = out.iterator.map { case (s, t) => Oracle.mix(s, t) }.sum
    val n = out.length.toDouble
    Verdict(out.length == truth("pairs") && hash == truth("hash"),
      s"got ${out.length} pairs hash $hash, oracle ${truth("pairs")} hash ${truth("hash")}",
      n / math.max(1L, truth("pairs")), n / math.max(1L, truth("candidates")))
  }
}

/** Budgeted progressive GIA.nt (`w_js` weights) on the polygon corpus,
  * with the budget at about 10% of the candidates. Weighting and the
  * global rank dominate; verification is bounded by the budget. */
object ProgressiveBudget extends Workload {
  /** (rank, s_id, t_id, qualifies) */
  type Out = Array[(Long, Int, Int, Boolean)]
  val name = "progressive_budget"
  def corpus(scale: Double): Gen.Corpus = Gen.giant(scale)
  private val weight = "w_js"

  /** 10% of the corpus's MBR candidates (5000 of ≈52k on the full corpus). */
  def budget(input: Input): Int = math.max(1, math.round(0.1 * input("candidates")).toInt)

  private def rows(df: DataFrame): Out = df.collect().map(r =>
    (r.getAs[Long]("rank"), r.getAs[String]("s_id").toInt, r.getAs[String]("t_id").toInt,
      r.getAs[Boolean]("qualifies")))

  def job(spark: SparkSession, dir: Path, input: Input): Out =
    rows(SpatialLink(Workload.load(spark, dir, "source"),
      Workload.load(spark, dir, "target")).progressive(budget(input), weight))

  def traced(spark: SparkSession, dir: Path, input: Input, t: Tracer): Out =
    Workload.traced(spark, dir, t) { st =>
      val (s, g) = st.read()
      val theta = st.theta(s)
      st.funnel(s, g, theta)
      val narrow = st.candidates(s, g, theta)
      val weighted = t.span("progressive.weight") {
        val w = st.keep(Progressive.withWeights(narrow, theta)
          .select(col("s_id"), col("t_id"), col(weight)))
        w.count()
        w
      }
      val bounded = t.span("progressive.rank") {
        val r = st.keep(Ranks.withGlobalRank(weighted,
            Seq(col(weight).desc, col("s_id").asc, col("t_id").asc))
          .filter(col("rank") <= budget(input)))
        r.count()
        r
      }
      t.span("progressive.verify") {
        val joined = st.joinBack(broadcast(bounded), s, g)
        st.verify[Out](_.count(_._4).toLong) {
          rows(joined.withColumn("qualifies",
            st_predicate(col("s_geom"), col("t_geom"), "intersects")))
        }
      }
    }

  def check(out: Out, truth: Truth, input: Input): Verdict = {
    val b = budget(input)
    val ranksOk = out.map(_._1).sorted.sameElements(1L to b.toLong)
    val keys = out.map(r => Oracle.key(r._2, r._3))
    val distinct = keys.distinct.length == keys.length
    val flagsOk = out.forall(r => truth.pairs.get(Oracle.key(r._2, r._3)).contains(r._4))
    val hits = out.count(_._4).toDouble
    Verdict(out.length == b && ranksOk && distinct && flagsOk,
      s"rows ${out.length}/$b ranks $ranksOk distinct $distinct flags $flagsOk",
      hits / math.max(1L, truth("intersects")), hits / b)
  }
}
