package graft.runtime

import java.io.File
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.udf

import graft.SparkSpecBase

/** What the golden pre-pass costs in Spark: the file is parsed on the
  * driver and the inputs run in ONE job, through generated code (the
  * stream's), with no shuffle. */
class GoldenFileSpec extends SparkSpecBase {

  /** Runs `body` in a job group of its own and returns its result with
    * the executed plan of each job the group started. The listener bus
    * is asynchronous: a sentinel job in a second group runs after
    * `body`, and the events are read once the listener has seen it. */
  private def jobsOf[A](body: => A): (A, Seq[SparkPlanInfo]) = {
    val group = s"golden-${UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val executions = new ConcurrentLinkedQueue[Long]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(p => (p.getProperty("spark.jobGroup.id"),
            p.getProperty("spark.sql.execution.id"))) match {
          case Some((`group`, id)) => executions.add(Option(id).fold(-1L)(_.toLong))
          case Some((`sentinel`, _)) => flushed.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "golden pre-pass")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "the listener never saw the sentinel job")
      out -> executions.asScala.toSeq.map(plans.get)
    } finally sc.removeSparkListener(listener)
  }

  private def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)

  /** One job whose plan is generated code over the input rows, with no
    * Exchange and no input folded into a local table. */
  private def assertOneCodegenJob(plans: Seq[SparkPlanInfo]): Unit = {
    assert(plans.size == 1, s"jobs started: ${plans.size}")
    val names = Option(plans.head).fold(Seq.empty[String])(nodes)
    assert(names.exists(_.startsWith("WholeStageCodegen")), names)
    assert(!names.exists(n => n.contains("Exchange") || n.contains("LocalTableScan")), names)
  }

  test("every example golden verifies in one Spark job of generated code, with no Exchange") {
    GraftFunctions.registerAll(spark)
    GraftScript.registerUdf("collatz_steps", (_, v) => udf((n: Long) => {
      var x = math.max(n, 1L); var steps = 0L
      while (x != 1L) { x = if (x % 2 == 0) x / 2 else 3 * x + 1; steps += 1 }
      steps
    }).apply(v))
    try {
      val examples = new File("examples").listFiles().filter(d => new File(d, "golden.json").isFile)
      assert(examples.length == 9)
      for (dir <- examples.sortBy(_.getName)) withClue(dir.getName) {
        val golden = new File(dir, "golden.json")
        val expected = new ObjectMapper().readTree(golden).get("expected").size()
        val pipeline = GraftScript.parseFile(new File(dir, "pipeline.graft").getPath)
        val (verified, plans) = jobsOf(GoldenFile.verify(spark, pipeline, golden.getPath))
        assert(verified == Right(expected))
        assertOneCodegenJob(plans)
      }
    } finally GraftScript.unregisterUdf("collatz_steps")
  }

  test("a step Catalyst cannot fold still runs, and still gates") {
    val script = Files.createTempFile("nondeterministic", ".graft")
    Files.writeString(script, "filter rand() >= 0\nmapValues value + 1\n")
    val pipeline = GraftScript.parseFile(script.toString)
    val g = Files.createTempFile("golden-rand", ".json")
    Files.writeString(g, """{"inputs": [{"value": 3}, {"value": 1}, {"value": 2}],
      |"expected": [{"value": 4}, {"value": 2}, {"value": 3}]}""".stripMargin)
    val (verified, plans) = jobsOf(GoldenFile.verify(spark, pipeline, g.toString))
    assert(verified == Right(3))
    assertOneCodegenJob(plans)
    val bad = Files.createTempFile("golden-rand-bad", ".json")
    Files.writeString(bad, """{"inputs": [{"value": 3}, {"value": 1}],
      |"expected": [{"value": 2}, {"value": 4}]}""".stripMargin)
    assert(GoldenFile.verify(spark, pipeline, bad.toString).left.exists(_.startsWith("record 0 mismatch")))
  }
}
