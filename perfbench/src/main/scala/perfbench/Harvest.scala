package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._

import graft.directory.EntityDirectory
import graft.pipeline.HarvestLoop
import graft.sources.MeasurementXml
import graft.store.{Triggers, TrendStore}

/** The Minerva daemon: each operation is one `HarvestLoop.tick` over the
  * measurement files that landed since the previous tick.
  *
  * A tick covers ten minutes of one-minute measurements for every entity,
  * split over [[FilesPerTick]] files (6 ticks per hourly bucket). Every
  * tick also receives one late file, for a seeded entity group and an hour
  * that was already materialized, so every tick lands the same rows and
  * recomputes the same number of buckets; the tick that crosses an hour
  * boundary expires the bucket that left the retention window, so the store
  * stays at a steady size instead of growing with the run. Counter values are whole
  * numbers, so sums are exact and the derived store can be compared with a
  * from-scratch recompute bit for bit. */
final class Harvest(spark: SparkSession, tracer: Tracer, seed: Long, work: String)
    extends Workload {
  import Harvest._

  private val rng = new scala.util.Random(seed)
  private val landing = s"$work/landing"
  private val store = s"$work/store"
  private val directoryDir = s"$work/directory"
  private val dns = (0 until Entities).map(e => f"Network=G${e / 20}%d,Node=$e%03d")
  private val rules = Seq(
    Triggers.Rule("kpi_a_high", "kpi_a", "major")(_ > 3150.0),
    Triggers.Rule("kpi_c_high", "kpi_c", "minor")(_ > 3200.0))
  private val parseNs = spark.sparkContext.longAccumulator("xml_parse_ns")
  private val parsedRows = spark.sparkContext.longAccumulator("xml_rows_parsed")

  private var nextTick = 0
  private var expiredBefore = ""
  private var pendingExpiry: Option[String] = None
  private val rowsPerBucket = mutable.Map[String, Long]().withDefaultValue(0L)
  private val files = mutable.ArrayBuffer[(String, String, Long)]() // name, bucket, bytes
  private var landedFiles = 0
  private var landedRows = 0L
  private var landedBytes = 0L
  private val perOp = mutable.Map[Int, OpRecord]()
  private var lastListing = Map.empty[String, Long]
  private var before: (Int, Long, Long, Long, Long) = (0, 0L, 0L, 0L, 0L)
  private var lastReport: HarvestLoop.TickReport = _

  private val reader: Seq[String] => DataFrame = paths => {
    val cs = Counters
    val ns = parseNs
    val nrows = parsedRows
    val enc = RowEncoder.encoderFor(MeasurementXml.schema(cs))
    spark.read.option("wholetext", "true").text(paths: _*).select("value")
      .mapPartitions { it =>
        it.flatMap { r =>
          val t0 = System.nanoTime()
          val rows = MeasurementXml.parseFile(r.getString(0), cs).toVector
          ns.add(System.nanoTime() - t0)
          nrows.add(rows.size)
          rows
        }
      }(enc)
      .withColumn("bucket", date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH"))
  }

  private val trend = new TrendStore(spark, s"$work/trend", Counters)

  /** Directory resolve, then the trend store's hourly rollup. */
  private val transform: DataFrame => DataFrame = src => {
    val facts = EntityDirectory.resolve(src, spark.read.parquet(directoryDir), "dn")
    trend.aggregateTime(facts, "hour")
      .withColumn("bucket", date_format(col("ts"), "yyyy-MM-dd HH"))
  }

  private lazy val loop = new HarvestLoop(spark, landing, store, reader, transform, rules)

  private def tickStart(t: Int): LocalDateTime = Start.plusMinutes(t.toLong * MinutesPerTick)
  private def bucketOf(ts: LocalDateTime): String = ts.format(BucketFmt)

  private def writeFile(name: String, rows: Seq[Row], bucket: String): Unit = {
    val bytes = MeasurementXml.render(rows, Counters, 60).getBytes("UTF-8")
    Files.write(Paths.get(landing, name), bytes)
    rowsPerBucket(bucket) += rows.size
    files += ((name, bucket, bytes.length.toLong))
    landedFiles += 1
    landedRows += rows.size
    landedBytes += bytes.length
  }

  private def row(entity: Int, ts: LocalDateTime): Row =
    Row.fromSeq(dns(entity) +: java.sql.Timestamp.valueOf(ts) +:
      Counters.map(_ => rng.nextInt(101).toDouble))

  /** Land tick `t`'s on-time files and, after pre-population, one late file. */
  private def land(t: Int, late: Boolean): Unit = {
    val start = tickStart(t)
    for (f <- 0 until FilesPerTick) {
      val rows = for {
        e <- f * EntitiesPerFile until (f + 1) * EntitiesPerFile
        m <- 0 until MinutesPerTick
      } yield row(e, start.plusMinutes(m))
      writeFile(f"t$t%05d_f$f%02d.xml", rows, bucketOf(start))
    }
    // A late file goes to an hour strictly between the retention cutoff and
    // the current hour. On-time rows sit on whole minutes and a late file's
    // rows on second 1 + t % 59, so no row repeats within 59 ticks.
    if (late) {
      val hour = start.withMinute(0).minusHours(1L + rng.nextInt(RetentionHours - 2))
      val g = rng.nextInt(FilesPerTick)
      val rows = for {
        e <- g * EntitiesPerFile until (g + 1) * EntitiesPerFile
        m <- 0 until 60 by 10
      } yield row(e, hour.plusMinutes(m.toLong).plusSeconds(1L + t % 59))
      writeFile(f"t$t%05d_late.xml", rows, bucketOf(hour))
    }
    // retention: the first tick of an hour expires the hour that left the window
    val cutoff = bucketOf(start.withMinute(0).minusHours((RetentionHours - 1).toLong))
    pendingExpiry = if (cutoff > expiredBefore && nextTick > 0) Some(cutoff) else None
    nextTick = t + 1
  }

  def setup(): Unit = {
    new File(landing).mkdirs()
    import spark.implicits._
    EntityDirectory.register(dns.toDF("dn"), "dn", "Node").write.parquet(directoryDir)
    // Pre-populate the retention window in one bulk tick, then warm up with
    // ordinary ticks until JIT and codegen have settled.
    for (t <- 0 until RetentionHours * TicksPerHour) land(t, late = false)
    val t0 = System.nanoTime()
    loop.tick()
    bulkTickS = (System.nanoTime() - t0) / 1e9
    for (_ <- 0 until WarmupTicks) {
      land(nextTick, late = true)
      val t1 = System.nanoTime()
      runTick()
      warmupTicksS += (System.nanoTime() - t1) / 1e9
    }
  }

  private var bulkTickS = 0.0
  private val warmupTicksS = mutable.ArrayBuffer[Double]()

  private def runTick(): HarvestLoop.TickReport = {
    val report = loop.tick(expireBefore = pendingExpiry)
    pendingExpiry.foreach(expiredBefore = _)
    report
  }

  override def prepare(i: Int, traced: Boolean): Unit = {
    before = (landedFiles, landedRows, landedBytes, parseNs.value, parsedRows.value)
    land(nextTick, late = true)
    if (traced) lastListing = DataFiles.sizes(store)
  }

  def op(i: Int): Double = {
    lastReport = tracer.span("pipeline.HarvestLoop.tick")(runTick())
    (landedRows - before._2).toDouble
  }

  override def afterOp(i: Int, traced: Boolean): Unit = {
    var rec = OpRecord(landedFiles - before._1, landedRows - before._2, landedBytes - before._3,
      parseNs.value - before._4, parsedRows.value - before._5, lastReport)
    if (traced) {
      val fresh = DataFiles.sizes(store).filter { case (p, _) => !lastListing.contains(p) }
      rec = rec.copy(filesWritten = fresh.size, bytesWritten = fresh.values.sum)
    }
    perOp(i) = rec
  }

  def verify(): Seq[String] = {
    val failures = mutable.ArrayBuffer[String]()
    perOp.toSeq.sortBy(_._1).foreach { case (i, r) =>
      if (r.report.filesIngested.size != r.files)
        failures += s"tick $i ingested ${r.report.filesIngested.size} files, ${r.files} landed"
    }
    val raw = spark.read.parquet(s"$store/raw")
    val expected = rowsPerBucket.collect { case (b, n) if b >= expiredBefore => n }.sum
    val got = raw.count()
    if (got != expected) failures += s"raw store holds $got rows, expected $expected (exactly once)"

    val cols = Seq("bucket", "entity_id", "samples") ++ Counters
    val fresh = transform(raw).select(cols.map(col): _*)
    val derived = spark.read.parquet(loop.derivedDir).select(cols.map(col): _*)
    val extra = derived.exceptAll(fresh).count()
    val missing = fresh.exceptAll(derived).count()
    if (extra + missing > 0)
      failures += s"derived store differs from a from-scratch recompute: $extra extra, $missing missing rows"

    val key = Seq(col("entity_id"), col("ts"), col("rule"))
    val expectedNotes = Triggers.evaluate(transform(raw), rules).select(key: _*).distinct()
    val cutoffTs = java.sql.Timestamp.valueOf(LocalDateTime.parse(expiredBefore, BucketFmt))
    val storedNotes = spark.read.parquet(loop.notificationsDir)
      .where(col("ts") >= lit(cutoffTs)).select(key: _*).distinct()
    val n1 = storedNotes.exceptAll(expectedNotes).count()
    val n2 = expectedNotes.exceptAll(storedNotes).count()
    if (n1 + n2 > 0)
      failures += s"notifications differ from Triggers.evaluate over the recompute: $n1 extra, $n2 missing"
    if (expectedNotes.count() == 0) failures += "no notifications raised: the rules test nothing"
    failures.toSeq
  }

  /** Stored bytes per input byte. The raw, derived and state stores hold
    * the retention window, so they are divided by the bytes of the input
    * files whose rows are still retained; the notification store and the
    * ingest log are append-only, so they are divided by the bytes of every
    * input file landed. Each share then stays put when an hour expires. */
  private def storedBytesPerInputByte(): Double = {
    val sizes = DataFiles.sizes(store)
    def under(dirs: String*): Double =
      sizes.collect { case (p, n) if dirs.exists(d => p.contains(s"/$d/")) => n }.sum.toDouble
    val retained = files.collect { case (_, b, n) if b >= expiredBefore => n }.sum
    under("raw", "derived", "state", "state.tmp") / math.max(retained, 1L) +
      under("notifications", "ingest_log") / math.max(files.map(_._3).sum, 1L)
  }

  def layerMetrics(tracer: Tracer, ops: Seq[(Int, Span)]): Seq[(String, Double)] = {
    val ticks = ops.flatMap { case (_, o) =>
      tracer.spans.filter(s => s.parent == o.id && s.name == "pipeline.HarvestLoop.tick")
    }
    val recs = ops.flatMap { case (i, _) => perOp.get(i) }
    def perTick(f: Span => Double): Double = if (ticks.isEmpty) 0.0 else ticks.map(f).sum / ticks.size
    def perRec(f: OpRecord => Double): Double = if (recs.isEmpty) 0.0 else recs.map(f).sum / recs.size
    def execs(s: Span) = tracer.totals(s).flatMap(_.executions)
    def phase(name: String)(s: Span): Double =
      execs(s).filter(e => classify(e.output, e.inputs, e.func) == name).map(_.durationNs).sum / 1e9
    val rowsRead = ticks.map(t => tracer.totals(t).map(_.recordsRead).sum.toDouble).sum
    Seq(
      "xml_parse_s" -> perRec(_.parseNs / 1e9),
      "xml_rows_parsed" -> perRec(_.parsed.toDouble),
      "harvest_tick_self_s" -> perTick(t => tracer.seconds(t) - execs(t).map(_.durationNs).sum / 1e9),
      "harvest_spark_jobs_per_tick" -> perTick(t => tracer.totals(t).map(_.jobs).sum.toDouble),
      "harvest_list_s" -> perTick(phase("list")),
      "mat_fingerprint_s" -> perTick(phase("fingerprint")),
      "mat_rows_scanned_per_ingested_row" -> rowsRead / math.max(recs.map(_.rows).sum, 1L),
      "mat_buckets_recomputed_per_tick" -> perRec(_.report.bucketsRecomputed.size.toDouble),
      "mat_write_s" -> perTick(phase("write")),
      "mat_state_write_s" -> perTick(phase("state_write")),
      "store_notify_s" -> perTick(phase("notify")),
      "store_files_written_per_tick" -> perRec(_.filesWritten.toDouble),
      "store_bytes_written_per_input_byte" ->
        recs.map(_.bytesWritten).sum.toDouble / math.max(recs.map(_.inputBytes).sum, 1L))
  }

  override def info: Seq[(String, Any)] = Seq(
    "files_per_tick" -> FilesPerTick, "rows_per_file" -> EntitiesPerFile * MinutesPerTick,
    "retention_hours" -> RetentionHours, "bulk_tick_s" -> bulkTickS,
    "warmup_ticks_s" -> warmupTicksS, "stored_bytes_per_input_byte" -> storedBytesPerInputByte())
}

object Harvest {
  /** What one tick landed, parsed, reported and (when traced) wrote. */
  final case class OpRecord(
      files: Int, rows: Long, inputBytes: Long, parseNs: Long, parsed: Long,
      report: HarvestLoop.TickReport, filesWritten: Int = 0, bytesWritten: Long = 0)

  val Counters: Seq[String] = Seq("kpi_a", "kpi_b", "kpi_c", "kpi_d")
  val FilesPerTick = 8
  val EntitiesPerFile = 10
  val Entities: Int = FilesPerTick * EntitiesPerFile
  val MinutesPerTick = 10
  val TicksPerHour: Int = 60 / MinutesPerTick
  val RetentionHours = 3
  /** On a 4-vCPU host the first ticks after the bulk tick fall from about
    * 4 s to about 2.2 s by the fifth; later ones gain a few percent each, as
    * the JIT keeps compiling (about 1.5 s of compile time per tick). */
  val WarmupTicks = 6
  /** The first measured tick opens a new hour: every run expires an hour on
    * its first tick and then stays within one hour, so what the stores hold
    * does not depend on how many ticks a run fits in. */
  val Start: LocalDateTime =
    LocalDateTime.of(2024, 3, 1, 0, 0).minusMinutes((WarmupTicks * MinutesPerTick).toLong)
  val BucketFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH")

  /** Which phase of a tick a SQL execution belongs to, from the store
    * directories it reads and writes (the loop's layout under its work dir). */
  def classify(output: String, inputs: Seq[String], func: String): String = {
    def reads(d: String) = inputs.exists(_.endsWith("/" + d))
    if (output.endsWith("/raw")) "ingest"
    else if (output.endsWith("/ingest_log") || (inputs.nonEmpty && inputs.forall(_.endsWith("/ingest_log")))) "list"
    else if (output.endsWith("/derived")) "write"
    else if (output.endsWith("/state") || output.endsWith("/state.tmp")) "state_write"
    else if (output.endsWith("/notifications") || reads("derived")) "notify"
    else if (reads("raw")) "fingerprint"
    else if (reads("state") || reads("state.tmp")) "state_write"
    else "other"
  }
}
