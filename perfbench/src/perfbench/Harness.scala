package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM. One run measures one workload:
  *
  * {{{
  * Harness --workload plumb_avro|board_loops --seed N
  *         --seconds S --trace 0|1 --work DIR --sha SHA
  *         [--input GENDIR] [--smoke] [--corrupt]
  * }}}
  *
  * It prints a `{"stamp": …}` line describing the run, then, as the last
  * line, `{"correct", "attempted", "failed", "metrics"}` with every
  * end-to-end metric (`--trace 0`) or every per-layer metric
  * (`--trace 1`). It exits 1 when an output check fails. `--corrupt`
  * damages one output before the check, to prove the check fails. */
object Harness {

  /** End-to-end metrics, measured on every workload with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s",
    "batch_p50_ms" -> "ms", "live_heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. A layer a workload never
    * enters reads 0 there (see [[notApplicable]]). */
  val PerLayer: Seq[(String, String)] = Seq(
    "batch_p90_ms" -> "ms",
    "runtime.session_ms" -> "ms", "runtime.script_parse_ms" -> "ms",
    "runtime.golden_verify_ms" -> "ms", "runtime.first_batch_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.rows_per_batch" -> "count", "stream.tasks_per_batch" -> "count",
    "stream.batch_samples" -> "count", "stream.records_per_s" -> "1/s",
    "stream.scaling_eff" -> "frac",
    "source.scan_ns" -> "ns", "serde.decode_ns" -> "ns",
    "pipeline.chain_ns" -> "ns", "serde.encode_ns" -> "ns",
    "sink.write_ns" -> "ns",
    "serde.decode_exprs" -> "count", "pipeline.kept_frac" -> "frac",
    "serde.malformed_frac" -> "frac") ++
    Ops.Summed ++ Seq("trace.warm_s" -> "s", "trace.overhead_frac" -> "frac",
      "trace.spans" -> "count")

  /** The stream and serde layers, which the board never enters. */
  private def notApplicable(workload: String, metric: String): Boolean =
    workload == "board_loops" && Seq("runtime.script_parse_ms",
      "runtime.golden_verify_ms", "runtime.first_batch_ms", "stream.",
      "source.", "serde.", "pipeline.", "sink.").exists(metric.startsWith)

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, sha: String, input: Option[Path],
      smoke: Boolean, corrupt: Boolean) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  /** Outcome of one run: the output check and every metric measured. */
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double], notes: Seq[(String, String)] = Nil)

  def flags(args: Array[String]): Map[String, String] =
    args.toList.sliding(2, 1).collect {
      case k :: v :: Nil if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(a => a == "--smoke" || a == "--corrupt").map(_.drop(2) -> "1")

  def main(args: Array[String]): Unit = {
    val a = flags(args)
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("work")).toAbsolutePath,
      a.getOrElse("sha", "unknown"), a.get("input").map(Paths.get(_)),
      a.contains("smoke"), a.contains("corrupt"))
    val stamp = new Stamp(o)
    val out = o.workload match {
      case "plumb_avro" => Lane.run(o, stamp)
      case "board_loops" => Board.run(o, stamp)
      case other => sys.error(s"unknown workload $other")
    }
    val catalog = if (o.trace) PerLayer else EndToEnd
    val metrics = catalog.map { case (name, unit) =>
      val v = out.metrics.get(name).orElse(
        if (o.trace && notApplicable(o.workload, name)) Some(0.0) else None)
        .getOrElse(sys.error(s"metric $name was not measured"))
      name -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))
    }
    println(Json.obj("stamp" -> stamp.render(out.notes)))
    val line = Json.obj("correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics: _*))
    Files.createDirectories(o.work.resolve("results"))
    Files.writeString(o.work.resolve("results")
      .resolve(s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}.json"), line)
    println(line)
    System.out.flush()
    if (!out.correct) sys.exit(1)
  }

  /** The session every entry point of the program builds (graft.runtime.
    * Main), with the load shape fixed: `local[cores]`, one shuffle
    * partition per core, and scratch space inside the work directory. */
  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .withExtensions(new graft.runtime.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally all.close()
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def ms(fromNanos: Long, toNanos: Long): Double = (toNanos - fromNanos) / 1e6

  /** Heap in use right after a full collection, in MB. Taken at fixed
    * points outside every timed region, so cached blocks that are never
    * released show as growth. Spark's ContextCleaner frees broadcast and
    * shuffle blocks only after a collection finds them unreachable, so a
    * second collection follows its pass. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The run stamp: what the run ran on and whether a co-tenant polluted
  * it, judged by the program's own bench rules (graft.Bench). */
final class Stamp(o: Harness.Opts) {
  private val startLoad = loadAvg()
  private val steal0 = graft.Bench.stealTicks()
  private val foreign = scala.collection.mutable.ArrayBuffer.empty[Double]
  graft.Bench.foreignCpu() // primes the MXBean window

  /** Foreign CPU over the window since the previous sample. */
  def sample(): Unit = foreign += graft.Bench.foreignCpu()

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def stealFrac(): Double = {
    val (s, d) = graft.Bench.stealTicks()
    if (s < 0 || steal0._1 < 0 || d <= steal0._2) -1.0
    else (s - steal0._1).toDouble / (d - steal0._2)
  }

  def render(notes: Seq[(String, String)]): String = {
    val steal = stealFrac()
    val loads = Seq(startLoad)
    val f = foreign.toSeq
    // Each channel alone, so a degraded stamp names what fired.
    val triggers = Seq(
      "loadavg" -> graft.Bench.isDegraded(loads, Nil, o.cpus),
      "foreign_cpu" -> graft.Bench.isDegraded(Nil, f, o.cpus),
      "steal" -> graft.Bench.isDegraded(Nil, Nil, o.cpus, steal))
      .collect { case (name, true) => Json.str(name) }
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).map(_.drop(4)).getOrElse("default")
    val ok = f.filter(_ >= 0)
    Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "smoke" -> o.smoke.toString,
      "cpus" -> o.cpus.toString, "shuffle_partitions" -> o.cpus.toString,
      "xmx" -> Json.str(xmx), "git_sha" -> Json.str(o.sha),
      "start_loadavg" -> Json.num(startLoad), "steal_frac" -> Json.num(steal),
      "foreign_cpu_median" -> Json.num(if (ok.isEmpty) -1.0 else Harness.median(ok)),
      "foreign_cpu_max" -> Json.num(if (ok.isEmpty) -1.0 else ok.max),
      "degraded" -> graft.Bench.isDegraded(loads, f, o.cpus, steal).toString,
      "degraded_by" -> Json.arr(triggers)) ++
      notes: _*)
  }
}
