package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.SparkEntry

/** The graph-loop board: SparkEntry's `q_pagerank` (five rounds of a
  * join and a groupBy, each round's scores pinned) on a fixed slice of
  * the test corpus (lineitem's order, part and supplier keys, seed 42),
  * written to the noop sink. One cold pass in the fresh JVM, then a
  * fixed number of warm passes; the output is hashed
  * afterwards, untimed, and compared with perfbench/expected_hashes.json. */
object Board {
  val Query = "q_pagerank"

  /** Duration of every Spark job while `recording`: per-job latency. */
  private final class JobTimes extends SparkListener {
    private val open = scala.collection.mutable.Map.empty[Int, Long]
    val durations = ArrayBuffer.empty[Double]
    @volatile var recording = false
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (recording) open(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(t => durations += (e.time - t).toDouble)
    }
  }

  def run(o: Harness.Opts, stamp: Stamp): Harness.Outcome = {
    val sf = if (o.smoke) "sf0.001" else "sf0.01"
    val dir = s"perfbench/data/$sf"
    val spans = new Spans(o.trace, s"${o.workload}-s${o.seed}")
    val heap = ArrayBuffer.empty[Double]
    val setupCount = if (o.smoke) 2 else 3

    // Set-up: session plus a scan of the corpus, several times; the last
    // session runs the board.
    val setups = (0 until setupCount).map { i =>
      spans(s"setup $i") { id =>
        val n0 = System.nanoTime()
        val spark = spans("session", id)(_ => Harness.session(o, o.cpus))
        val n1 = System.nanoTime()
        spans("warm-up scan", id)(_ => spark.read.parquet(s"$dir/lineitem.parquet").count())
        val n2 = System.nanoTime()
        if (i < setupCount - 1) { heap += Harness.liveHeapMb(); spark.stop() }
        stamp.sample()
        (spark, Harness.ms(n0, n1), Harness.ms(n0, n2))
      }
    }
    val spark = setups.last._1
    val jobs = new JobTimes
    spark.sparkContext.addSparkListener(jobs)

    var attempted = 0L
    var failed = 0L
    /** One run of the query to the noop sink: wall ms, or None when it
      * threw. Blocks it left cached are counted, then released untimed,
      * as graft.Bench does. */
    def pass(name: String): (Option[Double], Int) = spans(name) { id =>
      attempted += 1
      val t = System.nanoTime()
      val ok = try {
        spans(Query, id)(_ => SparkEntry.queries(Query)(spark, dir)
          .write.format("noop").mode("overwrite").save())
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $Query failed: $e"); failed += 1; false
      }
      val wall = Harness.ms(t, System.nanoTime())
      stamp.sample()
      val left = spark.sparkContext.getPersistentRDDs.size
      heap += Harness.liveHeapMb()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (if (ok) Some(wall) else None, left)
    }

    val cold = pass("cold pass")._1
    jobs.recording = true
    // A fixed count, so every run does the same work: one warm pass per
    // second of the run's seconds, at least three. The first warm pass is
    // still slower (the JIT is compiling), and the median looks past it.
    val warmPasses = math.max(3, o.seconds)
    val warm = (0 until warmPasses).map(i => pass(s"warm pass $i")._1)
    jobs.recording = false
    PerfbenchBus.drain(spark.sparkContext)

    val warmMs = warm.flatten
    val metrics = scala.collection.mutable.Map[String, Double](
      "setup_s" -> Harness.median(setups.map(_._3)) / 1000.0,
      "cold_s" -> cold.getOrElse(0.0) / 1000.0,
      "warm_s" -> (if (warmMs.isEmpty) 0.0 else Harness.median(warmMs) / 1000.0),
      "batch_p50_ms" -> Harness.median(jobs.durations.toSeq),
      "batch_p90_ms" -> Harness.percentile(jobs.durations.toSeq, 0.9),
      "runtime.session_ms" -> Harness.median(setups.map(_._2)))

    if (o.trace) {
      // One more pass with the ops listener on: the ops layer.
      val ops = new Ops(spans)
      ops.register(spark)
      val before = ops.snapshot(spark)
      val (wall, left) = pass("traced pass")
      val d = Ops.delta(before, ops.snapshot(spark), wall.getOrElse(0.0), o.cpus)
      ops.unregister(spark)
      d.foreach { case (k, v) => metrics(s"ops.$k") = v }
      metrics("ops.blocks_left") = left.toDouble
      metrics("trace.warm_s") = wall.getOrElse(0.0) / 1000.0
      metrics("trace.overhead_frac") = metrics("trace.warm_s") / metrics("warm_s") - 1.0
    }
    metrics("live_heap_mb") = heap.max

    // Result check, untimed: an order-independent hash of the output.
    attempted += 1
    val rows = spans("hash pass")(_ => SparkEntry.queries(Query)(spark, dir).collect())
    val kept = if (o.corrupt) rows.drop(1) else rows
    val h = hash(kept)
    val expected = Option(Json.read(Paths.get("perfbench/expected_hashes.json")).get(sf))
      .flatMap(e => Option(e.get(Query)))
    val hashOk = expected.exists(e =>
      e.get("rows").asLong == kept.length && e.get("hash").asText == h.toString)
    if (!hashOk) failed += 1
    metrics("trace.spans") = spans.size.toDouble
    spans.write(o.work.resolve("traces").resolve(s"${o.workload}-s${o.seed}.jsonl"))
    spark.stop()
    Harness.Outcome(failed == 0, attempted, failed, metrics.toMap, Seq(
      "sf" -> Json.str(sf), "warm_passes" -> warm.size.toString,
      "job_samples" -> jobs.durations.size.toString,
      "output_rows" -> kept.length.toString, "output_hash" -> Json.str(h.toString),
      "hash_ok" -> hashOk.toString))
  }

  /** Order-independent: the wrapping sum of per-row hashes. */
  def hash(rows: Array[Row]): Long =
    rows.iterator.map(r => Wire.hash(r.toSeq.map(v => if (v == null) "\u0000" else v.toString)
      .mkString("\u0001"))).sum
}
