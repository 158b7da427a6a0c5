package org.apache.spark.graftbench

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import org.apache.spark.graftbench.Harness._

/** Workload `suite`: the registered queries of `graft.SparkEntry` on the
  * sf tables, run the way `graft.Bench` runs them: a concurrent pass on a
  * pool of `cores` threads, longest-first submission, `.count()` as the
  * action.
  *
  * A run takes every `Stride`-th query of the sorted registry (32 of 249),
  * so that set-up, an untimed warm-up pass and several timed passes fit in
  * one run; the sample keeps the registry's mix of families and its
  * dispatch-bound character. The warm-up pass writes each result in
  * `graft.Verify`'s dump format; `run.py` compares that dump with the
  * DuckDB oracle through `tools/check.py`.
  */
object SuiteRun {
  val Stride = 8
  val TinyStride = 25

  def queries(tiny: Boolean): Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    val stride = if (tiny) TinyStride else Stride
    all.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
  }

  /** (latency s, completion offset from the pass start s, row count or -1). */
  private final case class Done(name: String, latency: Double, offset: Double, rows: Long)

  def run(spark: SparkSession, o: Opts, cores: Int, trace: Trace): Result = {
    val reg = graft.SparkEntry.queries
    val qs = queries(o.tiny)
    val pool = Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val attempted = new AtomicLong
    val errors = new ConcurrentHashMap[String, String]()

    def guarded(name: String)(f: => Long): Long = {
      attempted.incrementAndGet()
      try f catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          errors.putIfAbsent(name, msg.take(4000))
          System.err.println(s"[graftbench] $name failed: $msg")
          -1L
      }
    }

    def pass(order: Seq[String])(one: String => Long): (Seq[Done], Double) = {
      val t0 = System.nanoTime()
      val done = Await.result(Future.sequence(order.map(n => Future {
        val q0 = System.nanoTime()
        val rows = one(n)
        val t1 = System.nanoTime()
        Done(n, (t1 - q0) / 1e9, (t1 - t0) / 1e9, rows)
      })), Duration.Inf)
      (done, (System.nanoTime() - t0) / 1e9)
    }

    // warm-up: every result written in graft.Verify's dump format
    val dump = o.work.resolve("dump")
    Files.createDirectories(dump)
    val (warm, warmupS) = pass(qs) { n =>
      guarded(n) {
        reg(n)(spark, o.sf).coalesce(1).write.mode("overwrite")
          .parquet(dump.resolve(n).toString)
        0L
      }
    }
    errors.asScala.foreach { case (n, m) => Files.writeString(dump.resolve(s"$n._error"), m) }
    val sql = graft.SparkEntry.oracleSql.filter { case (n, _) => qs.contains(n) }
    Files.writeString(dump.resolve("oracle_sql.json"), Json.write(sql))
    Files.writeString(dump.resolve("errors.json"), Json.write(errors.asScala.toMap))
    val lpt = warm.sortBy(d => (-d.latency, d.name)).map(_.name)

    def untracedPass(): (Seq[Done], Double) =
      pass(lpt)(n => guarded(n)(reg(n)(spark, o.sf).count()))

    val measured = repeatFor(o.seconds)(untracedPass())
    val walls = measured.map(_._2)
    val done = measured.flatMap(_._1)
    val lat = done.map(_.latency)
    val offsets = done.map(_.offset)

    // every pass must count the same rows for a query; a perturbed run
    // adds a disagreeing count for the first query
    val counts = done.groupBy(_.name).map { case (n, ds) =>
      n -> (ds.map(_.rows) ++ (if (o.perturb && n == qs.head) Seq(-2L) else Nil)).distinct }
    val unstable = counts.collect { case (n, cs) if cs.length != 1 || cs.head < 0 => n }.toSeq.sorted
    val expectedCounts = counts.collect { case (n, Seq(c)) if c >= 0 =>
      n -> (if (o.perturb) c + 1 else c) }

    var layers = Map.empty[String, Double]
    var traceDetail = Map.empty[String, Any]
    if (trace.enabled) {
      val l = trace.listener.get
      trace.fence(); l.reset()
      var passNo = 0
      val traced = repeatFor(o.seconds) {
        passNo += 1
        val p = passNo
        val (r, s) = trace.span(s"suite.pass.$p") { passId =>
          pass(lpt) { n =>
            guarded(n) {
              trace.span(s"query.$n", passId) { qid =>
                val (df, _) = trace.span("construct", qid, s"$p:$n:construct")(_ =>
                  reg(n)(spark, o.sf))
                val (agg, _) = trace.span("plan", qid, s"$p:$n:plan") { _ =>
                  val a = df.groupBy().count()
                  a.queryExecution.executedPlan
                  a
                }
                trace.span("exec", qid, s"$p:$n:exec")(_ => agg.collect().head.getLong(0))._1
              }._1
            }
          }._1
        }
        (r, s.seconds)
      }
      trace.fence()
      val spans = trace.all
      val units = traced.length
      val tracedWall = median(traced.map(_._2))
      def spanSum(name: String) = spans.filter(_.name == name).map(_.seconds).sum / units
      val construct = l.sum(_.endsWith(":construct"))
      layers = layerBlock(l.sum(_ => true), units, tracedWall, cores) ++ Map(
        "entry.construct_s" -> spanSum("construct"),
        "entry.construct_jobs" -> construct.jobs.toDouble / units,
        "plan.plan_s" -> spanSum("plan"),
        "trace.traced_wall_s" -> tracedWall,
        "trace.untraced_wall_s" -> median(walls))
      traceDetail = Map("traced_passes" -> units,
        "trace_overhead_s" -> (tracedWall - median(walls)),
        "exec_s" -> spanSum("exec"),
        "shuffle.spill_mb" -> l.sum(_ => true).spillBytes / 1048576.0 / units,
        "untagged_jobs" -> l.sum(_ == "untagged").jobs)
    }
    pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)

    val checks = Seq(Check("suite.counts_stable", unstable.isEmpty,
      if (unstable.isEmpty) s"${counts.size} queries" else unstable.mkString(",")))
    Result(
      metrics = Map(
        "warmup_s" -> warmupS,
        "wall_s" -> median(walls),
        "query_p50_s" -> pct(lat, 0.5),
        "query_p90_s" -> pct(lat, 0.9),
        "batch_latency_p50_s" -> pct(offsets, 0.5),
        "batch_latency_p75_s" -> pct(offsets, 0.75)),
      layers = layers,
      attempted = attempted.get,
      failed = errors.size.toLong + unstable.count(n => !errors.containsKey(n)),
      checks = checks,
      detail = Map("queries" -> qs.length, "passes" -> walls.length,
        "warmup_latency" -> warm.map(d => d.name -> d.latency).toMap,
        "pass_walls" -> walls, "query_samples" -> lat.length,
        "dump" -> dump.toString, "expected_counts" -> expectedCounts,
        "errors" -> errors.asScala.toMap) ++ traceDetail)
  }
}
