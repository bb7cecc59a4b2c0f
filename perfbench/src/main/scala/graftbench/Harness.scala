package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver process: runs one workload's query list as a cold
  * pass, one untimed warm pass and then timed warm passes for
  * `--seconds`, each pass in a fresh `newSession()` of one
  * SparkContext so every pass misses the session-keyed memos and does
  * the same work. Every query is timed as two calls into the library:
  * construction (`SparkEntry.queries(name)(session, dir)`) and the
  * final action (a parquet write of the result, checked afterwards
  * against DuckDB by run.py). With `--trace 1` a [[Trace]] records the
  * per-layer counters from outside the engine.
  *
  * Modes: `oracle-sql` (write `SparkEntry.oracleSql` as JSON) and
  * `run`. Output is one JSON object per line on stdout; run.py turns
  * them into metrics.
  */
object Harness {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val mode = arg(args, "mode").getOrElse("run")
    if (mode == "oracle-sql") {
      val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(arg(args, "out").get), json)
      return
    }
    val launchMs = arg(args, "launch-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = arg(args, "cores").getOrElse("4")
    val trace = arg(args, "trace").contains("1")

    val local = arg(args, "local-dir").get
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", local + "/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", local + "/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dataDir = arg(args, "data").get
    // set-up ends when a session is up and every input table is open
    // (listed, footer schema read)
    val open = spark.newSession()
    graft.sources.Tables.starTables.foreach(t => graft.sources.Tables.load(open, dataDir, t).schema)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    println(Json.obj("setup_s" -> setupS))
    System.out.flush()
    val tracer = if (trace) Some(new Trace(spark)) else None

    val outDir = arg(args, "out").get
    val queries = arg(args, "queries").get.split(",").toSeq
    val seconds = arg(args, "seconds").get.toDouble
    val maxPasses = arg(args, "max-passes").map(_.toInt).getOrElse(Int.MaxValue)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val fullGcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filter(_.getName.contains("Old"))
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    // A full collection closes every pass: the same work each time, and
    // each pass starts from the same heap state. What the pools hold
    // right after it is the heap the pass retained. System.gc() is only
    // a request, so it is repeated until the full-collection count moves
    // (a reading once came back at 2.4 GB of a 3 GB heap).
    def fullGcMb(): Double = {
      val before = fullGcs.map(_.getCollectionCount).sum
      var tries = 0
      while (tries < 3 && (tries == 0 || fullGcs.map(_.getCollectionCount).sum == before)) {
        System.gc(); tries += 1
      }
      heapPools.map(_.getCollectionUsage.getUsed).sum / 1048576.0
    }
    // Spark's ContextCleaner drops the blocks of broadcasts and shuffles
    // whose driver objects a collection found unreachable, on its own
    // thread after that collection; a single reading caught them or not
    // (relational read 78 or 105 MB after the same pass). Collect again
    // until two readings agree.
    def retainedMb(): Double = {
      var prev = fullGcMb()
      var cur = prev
      var n = 1
      while (n == 1 || (n < 6 && math.abs(cur - prev) > 1.0)) {
        Thread.sleep(200); prev = cur; cur = fullGcMb(); n += 1
      }
      cur
    }

    def pass(idx: Int, timed: Boolean): Unit = {
      val s = spark.newSession()
      tracer.foreach(_.attach(s))
      val env0 = Env.snapshot(os.getSystemLoadAverage)
      val gc0 = gcMs; val jit0 = jit.getTotalCompilationTime
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val recs = queries.map { q =>
        graft.ops.BuildAttribution.setContext(q)
        val a = System.nanoTime(); val aMs = System.currentTimeMillis()
        var built = a
        val err =
          try {
            val df = graft.SparkEntry.queries(q)(s, dataDir)
            built = System.nanoTime()
            df.write.mode("overwrite").parquet(s"$outDir/p$idx/$q")
            None
          } catch { case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          }
        val c = System.nanoTime()
        s.catalog.clearCache()
        graft.ops.BuildAttribution.clearContext()
        (q, (built - a) / 1e9, (c - built) / 1e9, aMs, System.currentTimeMillis(), err)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val heapMb = retainedMb()
      val env = Env.since(env0)
      val layers = tracer.map(_.passLayers(recs.map(r => (r._4, r._5)), wall))
        .getOrElse(Map.empty)
      val qjson = recs.map { case (q, b, act, _, _, err) =>
        Json.obj("q" -> q, "build_s" -> b, "action_s" -> act,
          "err" -> err.orNull)
      }
      println(Json.obj(
        "pass" -> idx, "timed" -> timed, "wall_s" -> wall, "cpu_s" -> cpu,
        "heap_mb" -> heapMb,
        "gc_s" -> (gcMs - gc0) / 1e3,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
        "steal_s" -> env("steal_s"), "load1" -> env("load1"),
        "queries" -> Json.Raw(qjson.mkString("[", ",", "]")),
        "layers" -> Json.Raw(Json.obj(layers.toSeq: _*))))
      System.out.flush()
    }

    // The cold pass, then one untimed pass: the JIT keeps compiling
    // through the first warm passes (compile time per pass fell from
    // 37 to 20 to 14 to 9 s on curation), so timed passes that start
    // right after the cold pass speed up one after the other, and a pass
    // count set by the clock would mix warming and warm passes.
    val warmup = 1
    (0 to math.min(warmup, maxPasses)).foreach(pass(_, timed = false))
    val w0 = System.nanoTime()
    var i = warmup + 1
    while (i <= maxPasses && (i == warmup + 1 || (System.nanoTime() - w0) / 1e9 < seconds)) {
      pass(i, timed = true); i += 1
    }
    spark.stop()
  }
}

/** Host state around a pass, so a disturbed pass can be attributed:
  * hypervisor steal (from /proc/stat) and the load average at start. */
object Env {
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    } catch { case _: Throwable => 0L }

  final case class Snap(steal: Long, load1: Double)
  def snapshot(load1: Double): Snap = Snap(stealJiffies(), load1)
  def since(s: Snap): Map[String, Double] =
    Map("steal_s" -> (stealJiffies() - s.steal) / 100.0, "load1" -> s.load1)
}

/** Minimal JSON writer for the harness's output lines. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case b: Boolean => b.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
