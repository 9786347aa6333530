package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` drives it.
  *
  *  - `prepare`: generate the seeded corpus and its oracle truth
  *    (untimed; skipped when the corpus directory is complete).
  *  - `setup`: start a session and stop (set-up time only).
  *  - `run`: start a session, run the cold job, warm-up jobs for half
  *    of `--seconds`, then closed-loop warm jobs (one client: each job
  *    starts when the previous one ended) for `--seconds`; check every
  *    output against the oracle and print one `RESULT {json}` line.
  *    With `--trace true` the warm window is split between untraced
  *    jobs and the traced, layer-by-layer job.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.of(opts("workload"))
    val seed = opts("seed").toLong
    val scale = opts.get("scale").fold(Workload.DefaultScale)(_.toDouble)
    val corpus = w.corpus(scale)
    val dir = Paths.get(opts("data")).resolve(s"${corpus.name}-s$seed-x$scale")
    args(0) match {
      case "prepare" => prepare(corpus, seed, dir)
      case "setup" =>
        val spark = session(opts("cores").toInt, opts("work"))
        println("RESULT " + Json.obj("ready_ms" -> System.currentTimeMillis()))
        spark.stop()
      case "run" => run(w, dir, opts)
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }

  private def prepare(c: Gen.Corpus, seed: Long, dir: Path): Unit = {
    if (Files.exists(dir.resolve("done"))) return
    Files.createDirectories(dir)
    val (s, t) = Gen.write(c, seed, dir)
    val src = Oracle.read(dir.resolve("source"))
    val tgt = Oracle.read(dir.resolve("target"))
    val truth =
      if (c.target.points) Oracle.pointsInPolygons(src, tgt) else Oracle.polygons(src, tgt)
    truth.save(dir)
    val props = Seq(
      "source_entities" -> s.rows.toDouble, "target_entities" -> t.rows.toDouble,
      "source_vertices" -> s.meanVertices, "target_vertices" -> t.meanVertices,
      "source_mbr_fill" -> s.mbrFill, "target_mbr_fill" -> t.mbrFill,
      "candidates" -> truth("candidates").toDouble,
      "candidates_per_source_entity" -> truth("candidates").toDouble / s.rows,
      "candidates_per_target_entity" -> truth("candidates").toDouble / t.rows,
      "world" -> c.world)
    Files.write(dir.resolve("input.txt"), props.map { case (k, v) => s"$k\t$v" }.asJava)
    Files.write(dir.resolve("done"), Array.emptyByteArray)
  }

  private def session(cores: Int, work: String): SparkSession = {
    val spark = graft.spark.SessionTuning(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(w: Workload, dir: Path, opts: Map[String, String]): Unit = {
    val cores = opts("cores").toInt
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("true")
    val spark = session(cores, opts("work"))
    val readyMs = System.currentTimeMillis()

    val truth = Truth.load(dir)
    val input: Input = Files.readAllLines(dir.resolve("input.txt")).asScala
      .map(_.split('\t')).map(r => r(0) -> r(1).toDouble).toMap
    var attempted = 0
    var failures = List.empty[String]
    var last: Verdict = null

    /** One closed-loop job in a fresh session (so no session-scoped memo
      * carries over between jobs); returns its wall seconds. */
    def attempt(tracer: Option[Tracer]): Double = {
      val s = spark.newSession()
      attempted += 1
      val t0 = System.nanoTime()
      val out =
        try Right(tracer.fold(w.job(s, dir, input))(t => t.job(w.traced(s, dir, input, t))._2))
        catch { case NonFatal(e) => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val verdict = out.fold(e => Verdict(ok = false, e.toString, 0, 0),
        o => w.check(o, truth, input))
      if (!verdict.ok) failures ::= verdict.detail
      last = verdict
      secs
    }

    /** At least `min` jobs, and more until `budget` seconds have passed. */
    def loop(budget: Double, min: Int)(job: => Double): Seq[Double] = {
      val end = System.nanoTime() + (budget * 1e9).toLong
      val times = Seq.newBuilder[Double]
      var n = 0
      while (n < min || System.nanoTime() < end) { times += job; n += 1 }
      times.result()
    }

    val cold = attempt(None)
    // JIT warm-up: job times keep falling for several jobs after the
    // cold one; these are checked but not reported as warm jobs
    val warmup = loop(seconds / 2, 2)(attempt(None))
    val fields = Seq.newBuilder[(String, Any)]
    fields += "warmup_s" -> warmup
    if (!traced) {
      val warm = loop(seconds, 3)(attempt(None))
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      fields += "warm_s" -> warm
      fields += "retained_heap_mb" -> heap
    } else {
      val untraced = loop(seconds / 2, 3)(attempt(None))
      val listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(spark.sparkContext)
      val tracedTimes = loop(seconds / 2, 2)(attempt(Some(tracer)))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val perJob = tracer.spans.filter(_.name == "job").map(s =>
        Tracer.jobMetrics(tracer, listener, s.job, cores)).toSeq
      val layers = perJob.flatMap(_.keys).distinct.map(k =>
        k -> median(perJob.flatMap(_.get(k)))).toMap
      val rows = input("source_entities") + input("target_entities")
      fields += "layers" -> (layers ++ Map(
        "sources.rows_dropped" -> (rows - layers.getOrElse("sources.entities", 0.0)),
        "trace.untraced_job_s" -> median(untraced),
        "trace.overhead" -> median(tracedTimes) / median(untraced)))
      fields += "warm_s" -> untraced
      fields += "traced_s" -> tracedTimes
      opts.get("trace-out").foreach(p =>
        Files.writeString(Paths.get(p), Tracer.dump(tracer, listener)))
    }
    println("RESULT " + Json.obj((Seq(
      "ready_ms" -> readyMs,
      "cold_s" -> cold,
      "attempted" -> attempted,
      "failed" -> failures.length,
      "failures" -> failures.reverse.take(3),
      "recall" -> last.recall,
      "precision" -> last.precision,
      "input" -> input,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version) ++ fields.result()): _*))
    System.out.flush()
    spark.stop()
  }
}
