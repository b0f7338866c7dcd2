package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a closed loop of one kind of operation,
  * issued by a single client that waits for each reply. */
trait Workload {
  /** Operations per round. The loop stops only at a round boundary, so
    * every run covers the same mix whatever the seed or machine speed. */
  def roundLength: Int = 1

  /** Input generation, store pre-population and warm-up (charged to setup_s). */
  def setup(): Unit

  /** Untimed preparation of operation `i`, such as landing its input files. */
  def prepare(i: Int, traced: Boolean): Unit = ()

  /** One timed operation; returns the units of work it completed. */
  def op(i: Int): Double

  /** Untimed bookkeeping after a successful operation. */
  def afterOp(i: Int, traced: Boolean): Unit = ()

  /** Output checks, run after the timed window; each entry is one failure. */
  def verify(): Seq[String]

  /** Per-layer metrics from the traced operations: (operation index, span). */
  def layerMetrics(tracer: Tracer, ops: Seq[(Int, Span)]): Seq[(String, Double)]

  /** What operation `i` is, for the per-operation log. */
  def opName(i: Int): String = "op"

  /** Facts about the run worth recording next to the metrics. */
  def info: Seq[(String, Any)] = Nil
}

/** Harness entry point: runs one workload for a fixed time and writes its raw
  * samples, checks and per-layer metrics as JSON for `run.py` to summarize.
  *
  * {{{
  * perfbench.Main --workload harvest --seed 1 --seconds 10 --trace 0
  *   --data <generated inputs> --work <scratch dir> --out <result.json> --cores 4
  * }}}
  */
object Main {
  /** Writes the result and trace files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val work = opt("work")
    val trace = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyEpochMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, listen = trace)
    val w: Workload = opt("workload") match {
      case "harvest"      => new Harvest(spark, tracer, opt("seed").toLong, work)
      case "query_mix"    => new QueryMix(spark, tracer, opt("seed").toLong, opt("data"), work, trace)
      case other          => sys.error(s"unknown workload $other")
    }
    w.setup()

    val seconds = opt("seconds").toDouble
    val firstOpEpochMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val latencies = mutable.ArrayBuffer[(Int, Double, Boolean)]()
    val cpuSeconds = mutable.ArrayBuffer[Double]()
    val stolenSeconds = mutable.ArrayBuffer[Double]()
    val gcSeconds = mutable.ArrayBuffer[Double]()
    val jitSeconds = mutable.ArrayBuffer[Double]()
    val errors = mutable.ArrayBuffer[String]()
    val opSpans = mutable.Map[Int, Int]() // span id -> operation index
    var units = 0.0
    var busy = 0.0
    var i = 0
    // Whole rounds only, stopping at the round boundary nearest to
    // `seconds`. In a traced run half the operations are traced, in pairs
    // that alternate which of the two goes first (untraced-traced, then
    // traced-untraced), so the tracing overhead is measured within the run
    // as traced minus untraced p50.
    def elapsed = (System.nanoTime() - start) / 1e9
    def moreRounds = elapsed + elapsed / (i / w.roundLength) / 2 < seconds
    while (i == 0 || i % w.roundLength != 0 || moreRounds) {
      val traced = trace && (i + i / 2) % 2 == 1
      w.prepare(i, traced)
      tracer.enabled = traced
      val gc0 = gcMillis()
      val cpu0 = processCpuNs()
      val steal0 = stealJiffies()
      val jit0 = jitMillis()
      val t0 = System.nanoTime()
      var t1 = 0L
      try {
        val u = tracer.span("op")(w.op(i))
        t1 = System.nanoTime()
        val cpu = (processCpuNs() - cpu0) / 1e9
        val stolen = (stealJiffies() - steal0) / 100.0
        val gc = gcMillis() - gc0
        val jit = jitMillis() - jit0
        val span = if (traced) tracer.spans.last.id else -1
        tracer.enabled = false
        // The operation counts as done only once its bookkeeping succeeded;
        // until then it is not a latency sample.
        w.afterOp(i, traced)
        val dt = (t1 - t0) / 1e9
        busy += dt
        units += u
        latencies += ((i, dt, traced))
        cpuSeconds += cpu
        stolenSeconds += stolen
        gcSeconds += gc / 1e3
        jitSeconds += jit / 1e3
        if (traced) opSpans(span) = i
      } catch {
        case NonFatal(e) =>
          busy += ((if (t1 > 0) t1 else System.nanoTime()) - t0) / 1e9
          tracer.enabled = false
          errors += s"op $i: ${e.toString.take(300)}"
      }
      // Untimed isolation sweep: drop blocks that finished operations left
      // cached, so their eventual reclamation is not charged to a later one.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      i += 1
    }
    tracer.enabled = false

    val failures = w.verify()
    val traced = tracer.spans.filter(s => opSpans.contains(s.id)).toSeq
    val layer =
      if (!trace) Nil
      else {
        val busyMs = traced.flatMap(tracer.totals).map(_.taskRunMs).sum
        val wall = traced.map(tracer.seconds).sum
        w.layerMetrics(tracer, traced.map(s => opSpans(s.id) -> s)) ++ Seq(
          "engine_gc_s" -> latencies.zip(gcSeconds).collect { case ((_, _, true), g) => g }.sum /
            math.max(traced.size, 1),
          "engine_task_busy_share" -> busyMs / 1e3 / math.max(wall * cores, 1e-9),
          "engine_spill_bytes" -> traced.flatMap(tracer.totals).map(_.spillBytes).sum.toDouble /
            math.max(traced.size, 1))
      }
    if (trace) tracer.dump(Paths.get(opt("out") + ".spans.jsonl"))
    val result = json.writeValueAsString(Map(
      "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_epoch_ms" -> sessionReadyEpochMs,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "latencies" -> latencies.map(_._2),
      "op_names" -> latencies.map(l => w.opName(l._1)),
      "cpu_s" -> cpuSeconds,
      "stolen_s" -> stolenSeconds,
      "gc_s" -> gcSeconds,
      "jit_s" -> jitSeconds,
      "traced" -> latencies.map(_._3),
      "attempted" -> i,
      "failed" -> errors.size,
      "errors" -> errors,
      "units" -> units,
      "busy_s" -> busy,
      "peak_rss_mb" -> peakRssMb(),
      "verify_failures" -> failures,
      "layer" -> layer.toMap,
      "info" -> w.info.toMap))
    Files.write(Paths.get(opt("out")), result.getBytes("UTF-8"))
    spark.stop()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Time the JIT compiler threads have spent compiling. */
  private def jitMillis(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time the hypervisor gave to other guests, summed over all CPUs. */
  private def stealJiffies(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong

  /** VmHWM: the process's peak resident set. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
