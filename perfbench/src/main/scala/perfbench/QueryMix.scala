package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One client issuing report queries and LLM-data ingest batches.
  *
  * A report operation plans and runs one `SparkEntry.queries` key over the
  * generated star schema, consuming every output row. An ingest operation
  * is one [[DedupIngest]] batch. A round is a seeded permutation of every
  * key of [[QueryMix.Keys]] twice, then one ingest batch (last, so the
  * garbage and compilation it leaves behind fall on the same operations in
  * every run), so each run covers every operation equally often. In a
  * traced run each operation is issued twice
  * in a row, once traced and once not. Setup runs every key once, writing
  * its result for the DuckDB oracle check (which also warms codegen and the
  * page cache), and writes the band index of the ingest corpus and ingests
  * one warm-up batch. Throughput counts operations, report queries and
  * ingest batches alike. */
final class QueryMix(spark: SparkSession, tracer: Tracer, seed: Long, data: String,
    work: String, trace: Boolean) extends Workload {
  import QueryMix._

  private val rng = new scala.util.Random(seed)
  private val rounds = mutable.ArrayBuffer[IndexedSeq[String]]()
  private val expectedRows = mutable.Map[String, Long]()
  private val outputRows = mutable.Map[Int, Long]()
  private val failures = mutable.ArrayBuffer[String]()
  private val dedup = new DedupIngest(spark, tracer, s"$data/dedup", work)
  override def roundLength: Int = (if (trace) 2 else 1) * (2 * Keys.size + 1)

  private def keyAt(i: Int): String = {
    val r = i / roundLength
    while (rounds.size <= r) {
      val perm = (rng.shuffle(Keys ++ Keys) :+ IngestOp).toIndexedSeq
      rounds += (if (trace) perm.flatMap(k => Seq(k, k)) else perm)
    }
    rounds(r)(i % roundLength)
  }

  private val warmupS = mutable.LinkedHashMap[String, Double]()

  def setup(): Unit = {
    val results = s"$work/results"
    Keys.foreach { k =>
      val t0 = System.nanoTime()
      queryOf(k)(spark, data).write.parquet(s"$results/$k")
      expectedRows(k) = spark.read.parquet(s"$results/$k").count()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      warmupS(k) = (System.nanoTime() - t0) / 1e9
    }
    val oracles = graft.SparkEntry.oracleSql
    Files.write(Paths.get(s"$results/oracle_sql.json"),
      Main.json.writeValueAsBytes(Keys.map(k => k -> oracles(k)).toMap))
    val t0 = System.nanoTime()
    dedup.setup()
    warmupS(IngestOp) = (System.nanoTime() - t0) / 1e9
  }

  def op(i: Int): Double = keyAt(i) match {
    case IngestOp => dedup.op(); 1.0
    case key      => report(i, key)
  }

  override def opName(i: Int): String = keyAt(i)

  override def prepare(i: Int, traced: Boolean): Unit =
    if (keyAt(i) == IngestOp) dedup.prepare()

  override def afterOp(i: Int, traced: Boolean): Unit =
    if (keyAt(i) == IngestOp) dedup.afterOp(i, traced)

  private def report(i: Int, key: String): Double = {
    val n = tracer.span(s"queries.${familyOf(key)}") {
      val df = tracer.span("plan") {
        val d = queryOf(key)(spark, data)
        d.queryExecution.executedPlan
        d
      }
      tracer.span("exec")(countRows(df))
    }
    outputRows(i) = n
    if (n != expectedRows(key))
      failures += s"$key returned $n rows in operation $i, ${expectedRows(key)} when checked"
    1.0
  }

  private def countRows(df: DataFrame): Long = {
    val acc = spark.sparkContext.longAccumulator
    df.foreachPartition((it: Iterator[Row]) => acc.add(it.size.toLong))
    acc.value
  }

  def verify(): Seq[String] = failures.toSeq

  def layerMetrics(tracer: Tracer, ops: Seq[(Int, Span)]): Seq[(String, Double)] = {
    def child(op: Span, name: String): Seq[Span] = {
      val fam = tracer.spans.filter(_.parent == op.id)
      fam.toSeq.flatMap(f => tracer.spans.filter(s => s.parent == f.id && s.name == name))
    }
    val byFamily = ops.groupBy { case (i, _) => familyOf(keyAt(i)) }
    val ingest = dedup.layerMetrics(tracer, byFamily.getOrElse("ingest", Nil))
    val families = Families.map(_._1).filter(_ != "streams").flatMap { fam =>
      val fops = byFamily.getOrElse(fam, Nil)
      val n = math.max(fops.size, 1).toDouble
      val counters = fops.flatMap { case (_, o) => tracer.totals(o) }
      val out = fops.map { case (i, _) => outputRows.getOrElse(i, 0L) }.sum
      Seq(
        s"${fam}_plan_s" -> fops.flatMap { case (_, o) => child(o, "plan") }.map(tracer.seconds).sum / n,
        s"${fam}_exec_s" -> fops.flatMap { case (_, o) => child(o, "exec") }.map(tracer.seconds).sum / n,
        s"${fam}_jobs_per_query" -> counters.map(_.jobs).sum / n,
        s"${fam}_shuffle_bytes_per_query" -> counters.map(_.shuffleWriteBytes).sum / n,
        s"${fam}_scan_rows_per_output_row" -> counters.map(_.recordsRead).sum.toDouble / math.max(out, 1L))
    }
    val streamOps = byFamily.getOrElse("streams", Nil)
    val sc = streamOps.flatMap { case (_, o) => tracer.totals(o) }
    val batches = math.max(sc.map(_.streamBatches).sum, 1L).toDouble
    def perBatch(k: String): Double = sc.map(_.streamDurationsMs(k)).sum / 1e3 / batches
    val nStream = math.max(streamOps.size, 1).toDouble
    families ++ Seq(
      "stream_batch_s" -> perBatch("triggerExecution"),
      "stream_add_batch_s" -> perBatch("addBatch"),
      "stream_wal_commit_s" -> perBatch("walCommit"),
      "stream_commit_offsets_s" -> perBatch("commitOffsets"),
      "stream_query_planning_s" -> perBatch("queryPlanning"),
      "stream_state_rows" -> sc.map(_.stateRows).sum / nStream,
      "stream_state_memory_bytes" -> sc.map(_.stateMemoryBytes).sum / nStream) ++ ingest
  }

  override def info: Seq[(String, Any)] = Seq("keys" -> Keys, "rounds" -> rounds.size,
    "warmup_s" -> warmupS,
    "stored_bytes_per_input_byte" -> dedup.storedBytesPerInputByte) ++ dedup.info
}

object QueryMix {
  /** (family, the module's query registry), in the order metrics are named. */
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "rel" -> graft.queries.Rel.queries,
    "aggs" -> graft.queries.Aggs.queries,
    "wins" -> graft.queries.Wins.queries,
    "scalars" -> graft.queries.Scalars.queries,
    "geo" -> graft.queries.Geo.queries,
    "streams" -> graft.streaming.Streams.queries)

  /** One oracle-checked key per family: an as-of join (Rel), an entity
    * rollup (Aggs), a series kernel (Wins), a scalar function (Scalars), a
    * spatial query (Geo) and a keyed-state streaming drain (Streams). Each
    * is 0.4 to 1.2 s warm at sf0.1 on 4 cores. */
  val Keys: Seq[String] = Seq(
    "join_asof", "agg_entity_rollup", "win_counter_rate", "scalar_date",
    "geo_knn_haversine", "stream_stateful")

  /** The ingest batch's place in a round. */
  val IngestOp = "dedup_ingest"

  def familyOf(key: String): String =
    if (key == IngestOp) "ingest"
    else Families.collectFirst { case (f, qs) if qs.contains(key) => f }.get

  def queryOf(key: String): (SparkSession, String) => DataFrame =
    Families.collectFirst { case (_, qs) if qs.contains(key) => qs(key) }.get
}
