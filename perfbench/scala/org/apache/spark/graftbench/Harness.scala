package org.apache.spark.graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up the session, run one workload,
  * check its outputs, write a result record. Launched by `perfbench/run.py`,
  * which owns the benchmark's command line.
  *
  * {{{
  *   Harness --workload suite|hrv_batch|hrv_stream --seed N --seconds S
  *           --trace 0|1 --launched-ns <epoch ns of process launch>
  *           --work <work dir> --out <result.json> [--sf <dir>]
  *           [--size full|tiny] [--perturb 0|1]
  * }}}
  *
  * `--perturb 1` hands every output check a deliberately wrong expectation;
  * the smoke test uses it to show that no check is vacuous.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      launchedNs: Long, work: Path, out: Path, sf: String, tiny: Boolean, perturb: Boolean)

  /** What a workload hands back: end-to-end metrics, per-layer metrics
    * (traced runs), the operation counts and every output check. */
  final case class Result(metrics: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, checks: Seq[Check], detail: Map[String, Any])

  final case class Check(name: String, ok: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("launched-ns").toLong, Paths.get(kv("work")),
      Paths.get(kv("out")), kv.getOrElse("sf", ""), kv.getOrElse("size", "full") == "tiny",
      kv.getOrElse("perturb", "0") == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, o.work)
    val setupS = (epochNs() - o.launchedNs) / 1e9

    val calibPre = calib(spark)
    val trace = new Trace(spark, o.trace)
    val r = o.workload match {
      case "suite" => SuiteRun.run(spark, o, cores, trace)
      case "hrv_batch" => HrvBatchRun.run(spark, o, cores, trace)
      case "hrv_stream" => HrvStreamRun.run(spark, o, cores, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calibPost = calib(spark)
    if (o.trace) trace.write(o.work.resolve("spans.jsonl"))
    val peakRssMb = vmHwmKb() / 1024.0

    val host = Map(
      "nproc" -> cores,
      "SPARK_GRAFT_CPUS" -> sys.env.get("SPARK_GRAFT_CPUS"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "seed" -> o.seed,
      "calib" -> Map("jvm_pre" -> calibPre._1, "jvm_post" -> calibPost._1,
        "spark_pre" -> calibPre._2, "spark_post" -> calibPost._2),
      // a run whose probes slowed by half between the start and the end
      // shared its host with other load: flag it, do not compare it
      "loaded" -> (calibPost._1 > 1.5 * calibPre._1 || calibPost._2 > 1.5 * calibPre._2))
    val metrics = r.metrics ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb)
    val json = Json.obj(
      "workload" -> o.workload, "trace" -> o.trace,
      "metrics" -> metrics, "layers" -> r.layers,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "checks" -> r.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "host" -> host, "detail" -> r.detail)
    Files.writeString(o.out, Json.write(json))
    spark.stop()
  }

  def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The session `graft.Bench` and `graft.Verify` build, at `cores`
    * threads, followed by a first trivial action. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0L, 1000L, 1L, 1).selectExpr("sum(id)").collect()
    spark
  }

  /** `graft.Bench`'s load-sentinel probes, same work constants, min of 3:
    * a single-core JVM loop and a constant `spark.range` aggregate. */
  def calib(spark: SparkSession): (Double, Double) = {
    def jvm(): Double = {
      val t0 = System.nanoTime()
      var i = 0L; var acc = 0L
      while (i < 200000000L) { acc += i ^ (i >>> 7); i += 1 }
      if (acc == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    def sparkProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 5000000L, 1L, 8).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    sparkProbe() // its first run after set-up pays one-off codegen
    (Seq.fill(3)(jvm()).min, Seq.fill(3)(sparkProbe()).min)
  }

  /** Peak resident set of this JVM (driver and executors share it in local
    * mode), from /proc/self/status. */
  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Nearest-rank percentile (0 < q <= 1) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Run `one` repeatedly within a budget of `seconds`: at least
    * `atLeast` times, and again while a run of the mean length so far is
    * expected to end no later than half a run past the budget. */
  def repeatFor[T](seconds: Double, atLeast: Int = 2)(one: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val b = Seq.newBuilder[T]
    var n = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (n < atLeast || elapsed + elapsed / n / 2 <= seconds) { b += one; n += 1 }
    b.result()
  }

  /** Time `f`, in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Files under `p`, Spark's hidden and checksum files excluded. */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val it = Files.walk(p).iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getFileName.toString
        if (Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")) b += f
      }
      b.result()
    }

  /** The shared per-layer block from listener counters: `units` is the
    * number of measured units (suite passes, pipeline calls, streams) and
    * `unitWall` their median wall, so every figure is per unit. */
  def layerBlock(c: Counters, units: Int, unitWall: Double, cores: Int): Map[String, Double] = {
    val u = units.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "dispatch.jobs" -> c.jobs / u,
      "dispatch.stages" -> c.stages / u,
      "dispatch.tasks" -> c.tasks / u,
      "dispatch.sched_delay_s" -> c.schedDelayMs / 1e3 / u,
      "executor.run_s" -> c.runMs / 1e3 / u,
      "executor.cpu_s" -> c.cpuNs / 1e9 / u,
      "executor.busy_share" -> (c.runMs / 1e3 / u) / (unitWall * cores),
      "shuffle.write_mb" -> c.shuffleWriteBytes / mb / u,
      "shuffle.read_mb" -> c.shuffleReadBytes / mb / u)
  }
}
