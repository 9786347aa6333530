package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Names are `<layer>.<step>`; the root
  * span of each traced job is `job`. */
final case class Span(id: Int, name: String, parent: Int, job: Int,
                      start: Long, var end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Metrics of one finished Spark task. */
final case class TaskRecord(stage: Int, millis: Long, runMillis: Long,
                            cpuNanos: Long, gcMillis: Long, shuffleWrite: Long,
                            shuffleRead: Long, spill: Long, peakMem: Long,
                            failed: Boolean)

/** Attributes every Spark stage and task to the span whose id the
  * submitting thread carried as a local property when the job started. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  /** (span id, task) and (span id, stage id) of completed work. */
  val tasks = mutable.ArrayBuffer.empty[(Int, TaskRecord)]
  val stages = mutable.ArrayBuffer.empty[(Int, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .fold(-1)(_.toInt)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += stageSpan.getOrElse(e.stageInfo.stageId, -1) -> e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = !e.taskInfo.successful
    val rec =
      if (m == null) TaskRecord(e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRecord(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory, failed)
    tasks += stageSpan.getOrElse(e.stageId, -1) -> rec
  }
}

/** In-memory span recorder. Spans nest on the calling thread; counts
  * are recorded at the same boundaries, keyed by job. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[(Int, String), Double]
  private var open: List[Span] = Nil
  private var jobs = 0

  def job[A](body: => A): (Int, A) = {
    jobs += 1
    (jobs, span("job")(body))
  }

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), jobs,
      System.nanoTime(), 0L)
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  def count(name: String, value: Double): Unit = counts((jobs, name)) = value
  def counted(name: String): Option[Double] = counts.get((jobs, name))
}

object Tracer {
  val Key = "perfbench.span"
  val Layers: Seq[String] = Seq("sources", "spatialjoin", "functions", "progressive")

  /** Per-layer metrics of traced job `job`: span times, self times per
    * layer, coverage, the recorded counts, and the Spark task metrics
    * of the spans that submitted them. */
  def jobMetrics(t: Tracer, l: SpanListener, job: Int, cores: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.job == job).toSeq
    val root = spans.find(_.name == "job").get
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    def dur(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
    val ids = spans.map(_.id).toSet
    val (tasks, stages) = l.synchronized {
      (l.tasks.filter(x => ids(x._1)).toSeq, l.stages.filter(x => ids(x._1)).toSeq)
    }
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val byStage = tasks.map(_._2).groupBy(_.stage)
    val skew =
      if (byStage.isEmpty) 1.0
      else {
        val heaviest = byStage.values.maxBy(_.map(_.runMillis).sum)
        val ms = heaviest.map(_.millis.toDouble)
        ms.max / math.max(1.0, median(ms))
      }
    val all = tasks.map(_._2)
    val taskS = all.map(_.runMillis).sum / 1e3
    val spans_ = Map(
      "sources.parse_s" -> dur("sources.read"),
      "spatialjoin.theta_s" -> dur("spatialjoin.theta"),
      "spatialjoin.candidates_s" -> dur("spatialjoin.candidates"),
      "spatialjoin.joinback_s" -> dur("spatialjoin.joinback"),
      "functions.verify_s" -> dur("functions.verify"),
      "progressive.weight_s" -> dur("progressive.weight"),
      "progressive.rank_s" -> dur("progressive.rank"),
      "progressive.verify_s" -> dur("progressive.verify"),
      "trace.job_s" -> root.seconds,
      "trace.coverage" -> (1 - self(root) / root.seconds))
    val layers = Layers.flatMap { layer =>
      Seq(s"$layer.self_s" -> spans.filter(_.layer == layer).map(self).sum,
        s"$layer.task_s" ->
          tasks.filter(x => layerOf(x._1) == layer).map(_._2.runMillis).sum / 1e3)
    }
    val spark = Map(
      "spark.tasks" -> all.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> all.map(_.cpuNanos).sum / 1e9,
      "spark.gc_s" -> all.map(_.gcMillis).sum / 1e3,
      "spark.utilization" -> taskS / (root.seconds * cores),
      "spark.task_skew" -> skew,
      "spark.shuffle_write_mb" -> all.map(_.shuffleWrite).sum / 1048576.0,
      "spark.shuffle_read_mb" -> all.map(_.shuffleRead).sum / 1048576.0,
      "spark.spill_mb" -> all.map(_.spill).sum / 1048576.0,
      "spark.peak_exec_mem_mb" ->
        (0L +: all.map(_.peakMem)).max / 1048576.0,
      "spark.failed_tasks" -> all.count(_.failed).toDouble)
    val counted = t.counts.collect { case ((`job`, k), v) => k -> v }.toMap
    val perPair = "functions.verify_us_per_pair" -> layers.toMap.apply("functions.task_s") *
      1e6 / math.max(1.0, counted.getOrElse("functions.relate_calls", 0.0))
    spans_ ++ layers ++ spark ++ counted + perPair
  }

  /** Every span with its self time and the Spark work it submitted, as
    * a JSON document. */
  def dump(t: Tracer, l: SpanListener): String = {
    val children = t.spans.groupBy(_.parent)
    val tasksBySpan = l.synchronized(l.tasks.toSeq).groupBy(_._1)
    val rows = t.spans.map { s =>
      val ts = tasksBySpan.getOrElse(s.id, Nil).map(_._2)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job" -> s.job,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> (s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum),
        "tasks" -> ts.size, "task_s" -> ts.map(_.runMillis).sum / 1e3,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
        "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0)
    }
    val counts = t.counts.toSeq.map { case ((job, k), v) =>
      Json.obj("job" -> job, "name" -> k, "value" -> v)
    }
    Json.obj("spans" -> Json.Raw(rows.mkString("[", ",", "]")),
      "counts" -> Json.Raw(counts.mkString("[", ",", "]")))
  }
}

/** Minimal JSON writer for flat objects. */
object Json {
  final case class Raw(text: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
