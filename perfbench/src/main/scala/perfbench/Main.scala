package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark JVM: one workload, one client thread, closed loop.
  *
  * {{{
  * perfbench.Main <workload> <inputs dir> <work dir> <seed> <seconds> <trace 0|1> <result.json>
  * }}}
  *
  * Builds the session the way the engine's bench does, runs the workload's
  * set-up, then whole rounds of its op set until `seconds` have passed and
  * at least `minRounds` have run, then its output checks, and writes raw
  * ops, samples, counters and (when tracing) spans plus Spark job/stage
  * records to the result file.
  * Percentiles and per-layer figures are derived from that file by
  * `perfbench/stats.py`. */
object Main {

  /** Analyst SQL over the star schema: TPC-H plus a relational mix. */
  val Analyst: Seq[String] = Seq(
    "q_tpch1", "q_tpch3", "q_agg_rollup", "q_join_left", "q_win_rank")

  /** LLM-data-pipeline queries over documents/embeddings: MinHash dedup
    * over the shared shingle stage, and an IVF similarity probe whose index
    * is built ahead of it. */
  val DedupSearch: Seq[String] = Seq("q_dedup_minhash", "q_sim_ivf_indexed")

  /** Family a query's exec time is reported under. */
  def family(name: String): String = {
    val n = name.stripPrefix("q_")
    val head = n.takeWhile(_ != '_')
    head match {
      case h if h.startsWith("tpch") => "tpch"
      case "union" | "intersect" | "except" => "setop"
      case "join" if n.startsWith("join_setsim") => "setsim"
      case other => other
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seedS, secondsS, traceS, resultPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val rec = new Recorder(tracing)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = rec.layer("run.session") {
      graft.run.GraftSession.withMaster(SparkSession.builder(), s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 100000)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/catalog")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sparkTrace = new SparkTrace
    val streamTrace = new StreamTrace
    if (tracing) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.streams.addListener(streamTrace)
    }

    val wl: Workload = workload match {
      case "warehouse_etl" => new WarehouseWorkload(inputs, work)
      case "query_mix" => new QueryWorkload(inputs, work, seed, Analyst ++ DedupSearch)
      case "cdc_incremental" => new CdcWorkload(inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // JIT, codegen and a shuffle warm up as the engine's bench does
    spark.range(1000).selectExpr("id", "id * 2 AS x")
      .groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
      .count().write.format("noop").mode("overwrite").save()
    wl.setup(spark, rec)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
    val gc0 = gcMs
    val loopStart = Clock.nowMs
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var r = 0
    while (r < wl.minRounds || Clock.nowMs - loopStart < seconds * 1000) {
      val first = rec.ops.size
      wl.round(spark, rec, r)
      rounds += ((first, rec.ops.size))
      r += 1
    }
    val gc1 = gcMs
    wl.check(spark, rec)

    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)

    if (tracing) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val result = Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "spark_version" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory.toDouble / (1 << 20),
      "jvm_start_ms" -> jvmStartMs,
      "first_op_ms" -> rec.firstOpMs,
      "rounds" -> rounds.map { case (a, b) => Seq(a, b) },
      "gc_ms" -> (gc1 - gc0),
      "heap_peak_mb" -> heapPeak,
      "vm_hwm_mb" -> hwmKb / 1024,
      "ops" -> rec.ops,
      "samples" -> rec.samples,
      "counters" -> rec.counters,
      "spans" -> rec.spans,
      "jobs" -> (if (tracing) sparkTrace.jobs.values.map(j => Map(
        "id" -> j.id, "start" -> j.startMs, "end" -> j.endMs, "failed" -> j.failed)).toSeq
        else Nil),
      "stages" -> (if (tracing) sparkTrace.stages.values.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "job" -> sparkTrace.jobOf(s.id),
        "submit" -> s.submitMs, "end" -> s.endMs, "first_launch" -> s.firstLaunchMs,
        "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "task_time_ms" -> s.taskTimeMs, "scheduler_delay_ms" -> s.schedulerDelayMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "input" -> s.input, "output" -> s.output,
        "skew" -> s.skew)).toSeq else Nil),
      "triggers" -> streamTrace.triggers,
      "report" -> wl.report)
    Files.writeString(Paths.get(resultPath), result)
    spark.stop()
  }
}
