package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters taken from outside the engine: a SparkListener
  * (jobs, stages, task metrics, RDD blocks), a QueryExecutionListener
  * on every pass session (planning phases), Spark's codegen metric and
  * graft's public shared-build counters. `passLayers` returns the
  * counters since the previous call. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private final case class Job(start: Long, site: String, method: String) {
    @volatile var end: Long = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val blockTotal = new AtomicLong(0L)
  private val blockPeak = new AtomicLong(0L)

  // a job belongs to the first graft frame of its call site; jobs that
  // AQE submits from its own threads carry the call site of their SQL
  // execution instead, so that one is used whenever the job has one
  private val execSites = new ConcurrentHashMap[String, (String, String)]()
  private val GraftFrame = """(?m)^graft\.[^(\s]*\(([A-Za-z0-9_]+)\.scala:\d+\)""".r
  private val BenchFrame = """(?m)^graftbench\.""".r

  sc.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(x.executionId.toString, (x.description, x.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val stage = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val (short, long) = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id)))
        .getOrElse(stage.map(s => (s.name, s.details)).getOrElse(("", "")))
      val site = GraftFrame.findFirstMatchIn(long).map(_.group(1))
        .getOrElse(if (BenchFrame.findFirstIn(long).isDefined) "sink" else "other")
      jobs.put(e.jobId, Job(e.time, site, short.takeWhile(_ != ' ')))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("driver.stages", 1)
      add("driver.tasks", i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("driver.result_mb", m.resultSize / 1048576.0)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("spill.disk_mb", m.diskBytesSpilled / 1048576.0)
        add("spill.mem_mb", m.memoryBytesSpilled / 1048576.0)
        add("sources.scan_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.write_mb", m.outputMetrics.bytesWritten / 1048576.0)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val before = Option(blocks.put(b.blockId.name, now)).map(_.longValue).getOrElse(0L)
        val total = blockTotal.addAndGet(now - before)
        blockPeak.accumulateAndGet(total, math.max)
        ()
      }
    }
  })

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("plan.executions", 1)
      add("plan.s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Register the planning listener on a pass's session. */
  def attach(s: SparkSession): Unit = s.listenerManager.register(qeListener)

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def shared: Seq[Long] = Seq(graft.ops.PairFunnel.buildsExecuted,
    graft.ops.Similarity.fitBuildsExecuted)
  private var compiles0 = compiles
  private var shared0 = shared

  /** Counters since the previous call; `windows` are the pass's query
    * intervals (epoch ms), against which job time is unioned. */
  def passLayers(windows: Seq[(Long, Long)], wall: Double): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val out = scala.collection.mutable.Map[String, Double]()
    sums.asScala.foreach { case (k, v) => out(k) = v.sumThenReset() }
    val done = jobs.asScala.toSeq.filter(_._2.end >= 0)
    done.foreach { case (id, _) => jobs.remove(id) }
    out("driver.jobs") = done.size.toDouble
    done.foreach { case (_, j) =>
      val s = (j.end - j.start) / 1e3
      out(s"site.${j.site}.jobs") = out.getOrElse(s"site.${j.site}.jobs", 0.0) + 1
      out(s"site.${j.site}.job_s") = out.getOrElse(s"site.${j.site}.job_s", 0.0) + s
      if (j.site == "Staging" || j.method.toLowerCase.contains("checkpoint")) {
        out("staging.jobs") = out.getOrElse("staging.jobs", 0.0) + 1
        out("staging.s") = out.getOrElse("staging.s", 0.0) + s
      }
    }
    // driver gap: query wall time not covered by any job interval
    val ivs = done.map(j => (j._2.start, j._2.end)).sortBy(_._1)
    out("driver.gap_s") = windows.map { case (a, b) =>
      var covered = 0L; var cur = a
      ivs.foreach { case (s, e) =>
        val lo = math.max(s, cur); val hi = math.min(e, b)
        if (hi > lo) { covered += hi - lo; cur = hi }
      }
      (b - a - covered) / 1e3
    }.sum
    out("staging.peak_mb") = blockPeak.getAndSet(blockTotal.get()) / 1048576.0
    val c = compiles; out("codegen.compiles") = (c - compiles0).toDouble; compiles0 = c
    val sh = shared
    out("shared.funnel_builds") = (sh(0) - shared0(0)).toDouble
    out("shared.fit_builds") = (sh(1) - shared0(1)).toDouble
    shared0 = sh
    out("shared.attributed_builds") = graft.ops.BuildAttribution.drain().size.toDouble
    out("exec.utilization") =
      out.getOrElse("exec.run_s", 0.0) / (wall * sc.defaultParallelism)
    out.toMap
  }
}
