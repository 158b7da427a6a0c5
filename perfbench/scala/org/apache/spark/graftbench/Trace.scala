package org.apache.spark.graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-group Spark counters, summed from listener events. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

/** Counts jobs, stages, tasks, run and CPU time, scheduler delay, shuffle
  * bytes, spill and input bytes per job tag. The benchmark's own threads
  * tag their jobs with `SparkContext.addJobTag`, so jobs stay attributable
  * while several queries run at once. A job with no benchmark tag lands in
  * the group "untagged". */
final class LayerListener extends SparkListener {
  private val groups = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .flatMap(_.split(",").find(_.startsWith(Trace.TagPrefix)))
      .getOrElse("untagged")

  private def counters(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    val c = counters(g)
    c.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageGroup.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      // the Spark UI's scheduler delay: task wall not spent deserializing,
      // running, serializing the result or fetching it
      c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Sum of the groups whose tag satisfies `p`. */
  def sum(p: String => Boolean): Counters = synchronized {
    val out = new Counters
    groups.foreach { case (g, c) => if (p(g)) out.add(c) }
    out
  }

  def reset(): Unit = synchronized { groups.clear(); stageGroup.clear() }
}

/** One span: a named interval on the benchmark's own timeline. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and job tags, kept in memory and written once at exit. Spans are
  * recorded only around the benchmark's calls into the engine's public
  * entry points, never inside the engine. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val listener: Option[LayerListener] =
    if (enabled) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** Run `f` as a span named `name` under `parent`; with tracing on, jobs
    * it starts on this thread carry the tag `tag`. Returns (result, span). */
  def span[T](name: String, parent: Long = 0L, tag: String = "")(f: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val fullTag = if (enabled && tag.nonEmpty) Trace.TagPrefix + tag else ""
    if (fullTag.nonEmpty) sc.addJobTag(fullTag)
    val t0 = System.nanoTime()
    try {
      val r = f(id)
      val s = Span(id, parent, name, t0, System.nanoTime())
      if (enabled) spans.add(s)
      (r, s)
    } finally if (fullTag.nonEmpty) sc.removeJobTag(fullTag)
  }

  /** Wait until the listener has seen every event posted so far. */
  def fence(): Unit = if (enabled) spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Jobs the listener has counted so far (0 with tracing off). */
  def jobsSoFar(): Long = { fence(); listener.map(_.sum(_ => true).jobs).getOrElse(0L) }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Json.write(Json.obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val TagPrefix = "graftbench:"
}
