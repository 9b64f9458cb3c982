package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.runtime.{GoldenFile, GraftScript}
import graft.serde.KeyValueMapping

/** The plumber stream lane: the calls graft.runtime.Main makes for
  * `--stream --once` (parse the script, run the golden pre-pass, decode,
  * compile the chain, encode, start a parquet file sink), except that
  * the file source reads `cpus` files per micro-batch so the backlog
  * drains in many batches instead of one. Closed loop: the generator's
  * whole backlog is present before the query starts. */
object Lane {

  final case class Spec(inSerde: String, outSerde: String, script: Path, golden: String)

  /** The demo's restructure behind a null guard: frames the Confluent
    * decode rejects come out null and must be dropped, not encoded. */
  private def spec(o: Harness.Opts): Spec = {
    val script = o.work.resolve("plumb_avro.graft")
    Files.writeString(script, "filter value is not null\n" +
      Files.readString(Paths.get("examples/demo/pipeline.graft")))
    Spec(s"long,avro=${Wire.InputSchema}@${Wire.InSchemaId}",
      s"long,avro=${Wire.OutputSchema}@${Wire.OutSchemaId}",
      script, "examples/demo/golden.json")
  }

  /** Every progress report and termination, per query. */
  final class Progress extends StreamingQueryListener {
    private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val done = ConcurrentHashMap.newKeySet[UUID]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      done.add(e.id)

    def of(id: UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

    def awaitFirst(q: StreamingQuery): StreamingQueryProgress =
      await(s"first batch of query ${q.id}", q)(of(q.id).headOption)

    /** Progress of a query that ran to its end (AvailableNow). */
    def awaitAll(q: StreamingQuery): Seq[StreamingQueryProgress] = {
      if (!q.awaitTermination(150000)) sys.error("stream did not drain in 150 s")
      q.exception.foreach(e => throw e)
      await("query termination", q)(if (done.contains(q.id)) Some(of(q.id)) else None)
    }

    private def await[A](what: String, q: StreamingQuery)(poll: => Option[A]): A = {
      val deadline = System.nanoTime() + 150e9.toLong
      var r = poll
      while (r.isEmpty) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline) sys.error(s"timed out waiting for $what")
        Thread.sleep(2)
        r = poll
      }
      r.get
    }
  }

  /** Epoch milliseconds at which a micro-batch began and ended. */
  private def window(p: StreamingQueryProgress): (Long, Long) = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    (start, start + p.durationMs.get("triggerExecution").longValue)
  }

  /** One set-up: session, script parse, golden pre-pass, query start,
    * first micro-batch done. Times in ms. */
  final case class Setup(spark: SparkSession, progress: Progress, query: StreamingQuery,
      sessionMs: Double, parseMs: Double, goldenMs: Double, firstBatchMs: Double,
      totalMs: Double)

  private def start(o: Harness.Opts, s: Spec, cores: Int, src: Path, out: Path,
      spans: Spans, parent: Long): Setup = {
    Harness.deleteTree(out)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val spark = spans("session", parent)(_ => Harness.session(o, cores))
    val progress = new Progress
    spark.streams.addListener(progress)
    val n1 = System.nanoTime()
    val pipeline = spans("GraftScript.parseFile", parent)(_ => GraftScript.parseFile(s.script.toString))
    val n2 = System.nanoTime()
    spans("GoldenFile.verify", parent)(_ => GoldenFile.verify(spark, pipeline, s.golden)) match {
      case Left(msg) => sys.error(s"golden pre-pass failed: $msg")
      case Right(_) =>
    }
    val n3 = System.nanoTime()
    val query = spans("query.start", parent) { _ =>
      // Main infers the file source's schema with a batch read first.
      val schema = spark.read.parquet(src.toString).schema
      val raw = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", o.cpus.toString).parquet(src.toString)
      val decoded = KeyValueMapping.fromString(s.inSerde).decode(raw)
      val encoded = KeyValueMapping.fromString(s.outSerde).encode(pipeline.compile(decoded))
      encoded.writeStream.format("parquet")
        .option("path", out.resolve("sink").toString)
        .option("checkpointLocation", out.resolve("checkpoint").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val firstEnd = window(progress.awaitFirst(query))._2
    val startedAt = t0 + Harness.ms(n0, n3)
    Setup(spark, progress, query, Harness.ms(n0, n1), Harness.ms(n1, n2),
      Harness.ms(n2, n3), firstEnd - startedAt, (firstEnd - t0).toDouble)
  }

  /** A drain's figures from its progress reports. */
  final case class Drain(progress: Seq[StreamingQueryProgress]) {
    val rows: Long = progress.map(_.numInputRows).sum
    val wallS: Double =
      (window(progress.last)._2 - window(progress.head)._1) / 1000.0
    /** Batches after the first, which carries set-up work. */
    val steady: Seq[StreamingQueryProgress] = progress.drop(1).filter(_.numInputRows > 0)
    def phaseP50(phase: String): Double =
      Harness.median(steady.map(p => Option(p.durationMs.get(phase)).fold(0.0)(_.doubleValue)))
    def latencies: Seq[Double] = steady.map(_.durationMs.get("triggerExecution").doubleValue)
  }

  def run(o: Harness.Opts, stamp: Stamp): Harness.Outcome = {
    val s = spec(o)
    val gen = o.input.getOrElse(sys.error("--input <generated dir> is required"))
    val manifest = Json.read(gen.resolve("manifest.json"))
    val records = manifest.get("records").asLong
    val spans = new Spans(o.trace, s"${o.workload}-s${o.seed}")
    val runDir = o.work.resolve("lane")
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupCount = if (o.smoke) 2 else 3

    // Repeated set-ups: all but the last drain the warm-up batches and
    // stop; the last one's first batch is the first of the measured drain.
    val setups = (0 until setupCount).map { i =>
      val last = i == setupCount - 1
      val st = spans(s"setup $i") { id =>
        start(o, s, o.cpus, gen.resolve(if (last) "backlog" else "warm"),
          runDir.resolve(s"setup$i"), spans, id)
      }
      if (!last) {
        st.progress.awaitAll(st.query)
        heap += Harness.liveHeapMb()
        st.spark.stop()
      }
      stamp.sample()
      st
    }
    val main = setups.last
    val spark = main.spark
    val drain = spans("drain") { id =>
      val d = Drain(main.progress.awaitAll(main.query))
      d.progress.foreach { p =>
        val (b, e) = window(p)
        spans.add(s"batch ${p.batchId}", id, b * 1000000L, e * 1000000L)
      }
      d
    }
    stamp.sample()
    heap += Harness.liveHeapMb()
    val sink = runDir.resolve(s"setup${setupCount - 1}").resolve("sink")

    val checked = spans("check") { _ =>
      val target = if (o.corrupt) Check.corrupt(spark, sink, o.work.resolve("corrupt")) else sink
      Check.lane(spark, target, gen, manifest)
    }
    val rowsOk = drain.rows == records
    val metrics = scala.collection.mutable.Map[String, Double](
      "setup_s" -> Harness.median(setups.map(_.totalMs)) / 1000.0,
      "cold_s" -> setups.head.totalMs / 1000.0,
      "warm_s" -> drain.wallS,
      "batch_p50_ms" -> Harness.median(drain.latencies),
      "batch_p90_ms" -> Harness.percentile(drain.latencies, 0.9),
      "live_heap_mb" -> heap.max)
    var notes = checked.notes :+ ("drained_rows" -> drain.rows.toString) :+
      ("batches" -> drain.progress.size.toString)
    var correct = checked.correct && rowsOk

    if (o.trace) {
      val layer = traced(o, s, spark, gen, manifest, drain, main.query, spans)
      metrics ++= layer.metrics
      metrics ++= Seq(
        "runtime.session_ms" -> Harness.median(setups.map(_.sessionMs)),
        "runtime.script_parse_ms" -> Harness.median(setups.map(_.parseMs)),
        "runtime.golden_verify_ms" -> Harness.median(setups.map(_.goldenMs)),
        "runtime.first_batch_ms" -> Harness.median(setups.map(_.firstBatchMs)),
        "pipeline.kept_frac" -> checked.kept.toDouble / records,
        "trace.overhead_frac" -> (metrics("trace.warm_s") / drain.wallS - 1.0))
      correct &&= layer.correct
      notes ++= layer.notes
    } else spark.stop()
    metrics("trace.spans") = spans.size.toDouble
    spans.write(o.work.resolve("traces").resolve(s"${o.workload}-s${o.seed}.jsonl"))
    Harness.Outcome(correct, records, checked.failed + (if (rowsOk) 0 else 1),
      metrics.toMap, notes)
  }

  final case class Layer(metrics: Map[String, Double], correct: Boolean,
      notes: Seq[(String, String)])

  /** The traced run's per-layer numbers. Stops `spark` when done. */
  private def traced(o: Harness.Opts, s: Spec, spark: SparkSession, gen: Path,
      manifest: com.fasterxml.jackson.databind.JsonNode, drain: Drain,
      query: StreamingQuery, spans: Spans): Layer = {
    val records = manifest.get("records").asLong
    val m = scala.collection.mutable.Map.empty[String, Double]
    val phases = Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
      "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
      "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
    phases.foreach { case (p, name) => m(s"stream.$name") = drain.phaseP50(p) }
    m("stream.rows_per_batch") = Harness.median(drain.steady.map(_.numInputRows.toDouble))
    m("stream.batch_samples") = drain.steady.size.toDouble
    m("stream.records_per_s") = drain.rows / drain.wallS

    val plan = query.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    m("serde.decode_exprs") = plan.collect { case p => p.expressions }.flatten
      .map(_.collect { case e if e.prettyName == "graft_from_avro" => e }.size).sum.toDouble

    // The same drain again with the ops listener on: the ops layer and
    // the tracing overhead.
    val ops = new Ops(spans)
    ops.register(spark)
    val before = ops.snapshot(spark)
    val tracedDrain = spans("drain.traced") { id =>
      ops.parent = id
      // The session is still active, so start() reuses it.
      val st = start(o, s, o.cpus, gen.resolve("backlog"), o.work.resolve("lane").resolve("traced"),
        spans, id)
      Drain(st.progress.awaitAll(st.query))
    }
    // Micro-batches reach no QueryExecutionListener: every batch runs the
    // lane's plan, so count its shape once per batch.
    val batches = tracedDrain.progress.size
    val (exchanges, scans) = Ops.shape(plan)
    ops.addPlans(exchanges.toDouble * batches, scans.toDouble * batches,
      tracedDrain.progress.map(p => Option(p.durationMs.get("queryPlanning")).fold(0.0)(_.doubleValue)).sum)
    val d = Ops.delta(before, ops.snapshot(spark), tracedDrain.wallS * 1000, o.cpus)
    ops.unregister(spark)
    d.foreach { case (k, v) => m(s"ops.$k") = v }
    m("ops.blocks_left") = spark.sparkContext.getPersistentRDDs.size.toDouble
    m("stream.tasks_per_batch") = d("tasks") / batches
    m("trace.warm_s") = tracedDrain.wallS

    // Layers one on top of the other over the fixed slice, each pass
    // written to the noop sink; the parquet sink is the last step's
    // noop pass swapped for the file sink.
    val slice = gen.resolve("slice").toString
    val sliceRecords = manifest.get("slice_records").asLong
    val pipeline = GraftScript.parseFile(s.script.toString)
    val inKv = KeyValueMapping.fromString(s.inSerde)
    val outKv = KeyValueMapping.fromString(s.outSerde)
    val raw = spark.read.parquet(slice)
    val steps: Seq[(String, DataFrame)] = {
      val decoded = inKv.decode(raw)
      val chained = pipeline.compile(decoded)
      Seq("source.scan_ns" -> raw, "serde.decode_ns" -> decoded,
        "pipeline.chain_ns" -> chained, "serde.encode_ns" -> outKv.encode(chained))
    }
    val layerSink = o.work.resolve("layer-sink").toString
    def timed(name: String)(f: => Unit): Double =
      spans(name) { _ => val t = System.nanoTime(); f; Harness.ms(t, System.nanoTime()) }
    val reps = 5
    val samples = (0 until reps).map { _ =>
      steps.map { case (name, df) =>
        timed(s"layer $name")(df.write.format("noop").mode("overwrite").save())
      } :+ timed("layer sink.write_ns")(steps.last._2.write.mode("overwrite").parquet(layerSink))
    }
    val med = samples.transpose.map(Harness.median)
    val nsPerRecord = 1e6 / sliceRecords
    steps.map(_._1).zipWithIndex.foreach { case (name, i) =>
      m(name) = (med(i) - (if (i == 0) 0.0 else med(i - 1))) * nsPerRecord
    }
    m("sink.write_ns") = (med(steps.size) - med(steps.size - 1)) * nsPerRecord

    // Decode rejects over the whole backlog, against what was generated.
    val malformed = inKv.decode(spark.read.parquet(gen.resolve("backlog").toString))
      .where(col("value").isNull).count()
    val expectedMalformed = Wire.Reasons.map(r => manifest.get("drops").get(r).asLong).sum
    m("serde.malformed_frac") = malformed.toDouble / records
    spark.stop()

    // Single-threaded baseline on the slice.
    def rate(cores: Int): Double = spans(s"scaling local[$cores]") { id =>
      val st = start(o, s, cores, gen.resolve("slice"), o.work.resolve("lane").resolve(s"scale$cores"), spans, id)
      val dr = Drain(st.progress.awaitAll(st.query))
      st.spark.stop()
      dr.rows / dr.wallS
    }
    val one = rate(1)
    m("stream.scaling_eff") = rate(o.cpus) / (o.cpus * one)
    Layer(m.toMap, malformed == expectedMalformed,
      Seq("malformed" -> malformed.toString, "malformed_expected" -> expectedMalformed.toString))
  }
}
