package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** A SQL execution that finished inside a span: what it read and wrote. */
final case class Execution(func: String, durationNs: Long, output: String, inputs: Seq[String])

final class Counters {
  var jobs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var mapStageWallMs = 0L
  val executions = mutable.ArrayBuffer[Execution]()
  val streamDurationsMs = mutable.Map[String, Long]().withDefaultValue(0L)
  var streamBatches = 0L
  var stateRows = 0L
  var stateMemoryBytes = 0L
}

/** Spans around the benchmark's calls into each module, plus the Spark work
  * attributed to them.
  *
  * A span sets the Spark job group to its own name; jobs started under that
  * group (or, for threads that set their own group such as a streaming
  * query's, while the span is the innermost open one) are charged to it.
  * The listener bus is drained at every span boundary, so events are never
  * charged to a span that has already closed. When `enabled` is false a
  * span is just its body and the listeners return at once, so traced and
  * untraced operations can alternate in one run; with `listen` false (the
  * untraced benchmark run) no listener is registered at all. */
final class Tracer(spark: SparkSession, listen: Boolean) {
  private val sc = spark.sparkContext

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[Int, Counters]()
  private var stack = List.empty[(Int, String)]
  @volatile private var current = -1
  private var nextId = 0
  private val stageSpan = mutable.Map[Int, Int]()

  /** Listener callbacks arrive on several bus threads; every counter update
    * and read goes through this lock. */
  private def countersOf(span: Int): Counters = synchronized(counters.getOrElseUpdate(span, new Counters))
  private def update(f: => Unit): Unit = if (enabled) synchronized(f)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      BusDrain(sc)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      current = id
      sc.setJobGroup(s"perfbench:$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        BusDrain(sc)
        spans += Span(id, name, parent, t0, t1)
        stack = stack.tail
        stack.headOption match {
          case Some((p, pName)) =>
            current = p
            sc.setJobGroup(s"perfbench:$p", pName)
          case None =>
            current = -1
            sc.clearJobGroup()
        }
      }
    }

  private def spanOfJob(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("perfbench:") => g.stripPrefix("perfbench:").toInt }
      .getOrElse(current)

  if (listen) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = update {
      val s = spanOfJob(e.properties)
      if (s >= 0) {
        countersOf(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = update {
      if (e.taskMetrics != null) stageSpan.get(e.stageId).foreach { s =>
        val c = countersOf(s)
        val m = e.taskMetrics
        c.taskRunMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = update {
      val i = e.stageInfo
      stageSpan.get(i.stageId).foreach { s =>
        if (i.taskMetrics != null && i.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
          for (a <- i.submissionTime; b <- i.completionTime) countersOf(s).mapStageWallMs += b - a
      }
    }
  })

  if (listen) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      update { if (current >= 0) {
        val output = qe.analyzed.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.getOrElse("")
        val inputs = qe.analyzed.collectWithSubqueries {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
            case _                   => Nil
          }
        }.flatten
        countersOf(current).executions += Execution(func, durationNs, output, inputs)
      } }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  if (listen) spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      update { if (current >= 0) {
        val c = countersOf(current)
        val p = e.progress
        p.durationMs.forEach((k, v) => c.streamDurationsMs(k) += v.longValue)
        c.streamBatches += 1
        p.stateOperators.foreach { so =>
          c.stateRows = math.max(c.stateRows, so.numRowsTotal)
          c.stateMemoryBytes = math.max(c.stateMemoryBytes, so.memoryUsedBytes)
        }
      } }
  })

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Duration minus the part covered by direct children. */
  def selfSeconds(s: Span): Double =
    seconds(s) - spans.filter(_.parent == s.id).map(seconds).sum

  /** Counters of `s` and every span nested in it. */
  def totals(s: Span): Seq[Counters] = {
    val ids = mutable.Set(s.id)
    spans.sortBy(_.id).foreach(c => if (ids.contains(c.parent)) ids += c.id)
    ids.toSeq.flatMap(counters.get)
  }

  /** Spans, parents and counters as JSON lines, for offline inspection. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Main.json.writeValueAsString(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
        "jobs" -> c.jobs, "task_run_ms" -> c.taskRunMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "records_read" -> c.recordsRead, "executions" -> c.executions.size,
        "stream_batches" -> c.streamBatches))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
