package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It builds the session and warms the engine
  * (timed together as set-up), then runs the workload's `--ops` ops in a
  * closed loop with tracing off; with `--trace 1` each op is followed by a
  * traced run of the same op.
  * Everything measured goes raw into `<data>/raw.json`; `run.py` turns it
  * into metrics and checks the outputs.
  *
  *   java -cp <classpath> perfbench.Harness --workload etl_sync \
  *     --data perfbench/work/etl_sync --ops 40 --cores 4 --trace 0
  */
object Harness {
  val LlmPrep: Seq[String] = Seq("q_text_quality", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_pipeline", "q_dedup_clusters_exact_first", "q_pipeline_decontaminate",
    "q_knn_lsh_dedup", "q_knn_ivf", "q_text_tfidf", "q_pack_sequences")
  val SqlAnalytics: Seq[String] = Seq("q_sql_tpch_q1", "q_sql_tpch_q3", "q_sql_tpch_q5",
    "q_sql_tpch_q6", "q_sql_tpch_q18", "q_join_shuffle", "q_join_broadcast", "q_agg_hash",
    "q_rollup", "q_window_frame", "q_join_range_auto")

  def errorHead(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  /** The session recipe of the engine's own Verify/Bench mains. */
  def session(cores: Int, localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val heap = ManagementFactory.getMemoryMXBean

  // CPU times of HotSpot's internal threads (JIT compilers, garbage
  // collectors, VM service threads), which ThreadMXBean does not list;
  // reached by reflection, since sun.management is exported to the harness
  // only at launch
  private val internalThreads = Class.forName("sun.management.ManagementFactoryHelper")
    .getMethod("getHotspotThreadMBean").invoke(null)
  private val internalCpuTimes = Class.forName("sun.management.HotspotThreadMBean")
    .getMethod("getInternalThreadCpuTimes")

  /** CPU time of the JVM's internal threads in ns: (JIT compilers, the
    * rest). Spark compiles new classes for every query, so the JIT keeps
    * compiling, and G1 keeps marking to unload them, long after warm-up,
    * converging at a pace that differs from run to run; the op CPU metric
    * counts the program's own threads only, and the traced run reports
    * these two on their own.
    */
  private def internalCpuNs(): (Long, Long) = {
    val (jit, vm) = internalCpuTimes.invoke(internalThreads)
      .asInstanceOf[java.util.Map[String, java.lang.Long]].asScala
      .partition { case (name, _) => name.contains("CompilerThread") }
    (jit.values.map(_.longValue).sum, vm.values.map(_.longValue).sum)
  }

  /** Heap still live after a full collection: run one, then read the heap. */
  private def liveHeap(): Long = {
    System.gc()
    heap.getHeapMemoryUsage.getUsed
  }

  /** Runs timed op `i` as op number `op`; returns its record. */
  private def runOp(spark: SparkSession, wl: Workload, i: Int, op: Int,
      tracer: Tracer): Map[String, Any] = {
    val fields = wl.describe(i)
    val c0 = wl.counters
    tracer.op = op
    val (jit0, vm0) = internalCpuNs()
    val cpu0 = cpu.getProcessCpuTime
    val t0 = Clock.nowMs
    val error =
      try { tracer.span("op")(wl.run(spark, i, tracer)); null }
      catch { case e: Exception => errorHead(e) }
    val t1 = Clock.nowMs
    val cpu1 = cpu.getProcessCpuTime
    val (jit1, vm1) = internalCpuNs()
    tracer.drain()
    wl.betweenOps()
    val c1 = wl.counters
    // each op starts on a collected heap, and what survives the collection
    // after it is the op's live heap (the collection is outside timing)
    val g0 = Clock.nowMs
    val live = liveHeap()
    fields ++ Map("op" -> op, "start" -> t0, "end" -> t1, "cpu_ms" -> (cpu1 - cpu0) / 1e6,
      "error" -> error, "counters" -> c1.map { case (k, v) => k -> (v - c0(k)) },
      "jit_cpu_ms" -> (jit1 - jit0) / 1e6, "vm_cpu_ms" -> (vm1 - vm0) / 1e6,
      "live_heap_bytes" -> live, "gc_ms" -> (Clock.nowMs - g0))
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val dir = Paths.get(o("data")).toAbsolutePath
    val ops = o("ops").toInt
    val cores = o("cores").toInt
    val traced = o.get("trace").contains("1")

    val wl: Workload = workload match {
      case "etl_sync" => new EtlSync(dir, cores)
      case "llm_prep" => new QueryWorkload(LlmPrep, dir, cores)
      case "sql_analytics" => new QueryWorkload(SqlAnalytics, dir, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val t0 = System.nanoTime()
      val spark = session(cores, Files.createDirectories(dir.resolve("spark-local")))
      val off = new Tracer(spark, enabled = false)
      val warmErrors = wl.warmUp(spark, off)
      val setupS = (System.nanoTime() - t0) / 1e9

      liveHeap()
      val untraced = mutable.ArrayBuffer.empty[Map[String, Any]]
      val tracedOps = mutable.ArrayBuffer.empty[Map[String, Any]]
      val tracer = new Tracer(spark, enabled = true)
      val collector = new Collector(tracer)
      // traced, each op runs twice in a row, once with tracing off (the
      // base of trace.overhead_ratio) and once traced, alternating which
      // goes first so that neither half gains from the other's warm-up
      def tracedOp(i: Int): Unit = {
        spark.sparkContext.addSparkListener(collector)
        spark.listenerManager.register(collector)
        tracedOps += runOp(spark, wl, i, ops + i, tracer)
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
      }
      (0 until ops).foreach { i =>
        if (traced && i % 2 == 1) tracedOp(i)
        untraced += runOp(spark, wl, i, i, off)
        if (traced && i % 2 == 0) tracedOp(i)
      }
      val trace = if (!traced) Map.empty[String, Any] else
        Map("ops" -> tracedOps,
          "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
            "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
          "jobs" -> collector.jobList.map(j => Map("id" -> j.id, "op" -> j.op,
            "span" -> j.span, "start" -> j.start, "end" -> j.end, "site" -> j.site,
            "stages" -> j.stages, "tasks" -> j.tasks, "task_failures" -> j.taskFailures,
            "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
            "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
            "fetch_wait_ms" -> j.fetchWaitMs, "spill" -> j.spill,
            "records" -> j.records, "bytes_in" -> j.bytesIn)),
          "plans" -> collector.plans.asScala.toSeq.map { case (op, f, a, opt, pl, at) =>
            Map("op" -> op, "func" -> f, "analysis_ms" -> a, "optimization_ms" -> opt,
              "planning_ms" -> pl, "at" -> at)
          },
          "checkpoint_bytes" -> collector.checkpointBytes.asScala.map { case (k, v) =>
            k.toString -> v.longValue }.toMap)

      Files.writeString(dir.resolve("raw.json"), Json(Map(
        "workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
        "warm_errors" -> warmErrors.map { case (k, v) => Map("op" -> k, "error" -> v) },
        "ops" -> untraced, "trace" -> trace)))
      spark.stop()
    } finally wl.close()
  }
}

/** Minimal JSON rendering for the raw record (maps, sequences, numbers,
  * booleans, strings and null).
  */
object Json {
  def apply(v: Any): String = {
    val sb = new mutable.StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case s: String => str(s)
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case b: Boolean => sb ++= b.toString
      case n: Number => sb ++= n.toString
      case m: collection.Map[_, _] =>
        sb += '{'
        m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(x)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
