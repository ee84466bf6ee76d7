package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.RecordWeigher
import graft.operators.Subpartitions
import graft.streaming.StreamingDedup

/** The kafka-workers topology on Structured Streaming, fed by [[Generator]]:
  * accept() (drops `view`) → `Subpartitions.byKeyHash` with Kafka's murmur2
  * → process() derivations → `RecordWeigher`. The sink groups each batch by
  * due time, so every derived column is computed, and the driver stamps the
  * emission time when the batch's result is back.
  *
  * Two parts share one session. An open-loop run of the topology at a fixed
  * rate and trigger interval gives, for records due after warm-up, the
  * latency from due time to emission. A closed-loop run of a fixed record
  * count in fixed-size batches, behind an intake `StreamingDedup.exact` on
  * the payload (keyed state), gives the time its batches after the first
  * take. Every batch's emitted count is checked against the records due in
  * it: the accepted ones, and of those only originals behind the dedup.
  */
object StreamWorkload {

  final case class Batch(id: Long, startMs: Long, from: Long, until: Long,
                         rows: Long, durations: Map[String, Long], stateRowsTotal: Long,
                         stateRowsUpdated: Long, stateCommitMs: Long,
                         stateMemoryB: Long)

  final case class Sunk(id: Long, emitted: Long, sinkMs: Double)

  final case class Part(name: String, gen: Generator, dedup: Boolean,
                        batches: Seq[Batch],
                        sunk: Seq[Sunk], latencyMs: Array[Long],
                        backlogEnd: Long) {
    /** The batches that read records; these are the timed ones. */
    def timed: Seq[Batch] = batches.filter(_.rows > 0)

    /** Batches whose emitted count differs from the records due in them,
      * and sunk batches that have no progress report. */
    def wrong: Seq[Long] = {
      val emitted = sunk.map(s => s.id -> s.emitted).toMap
      val reported = batches.map(_.id).toSet
      batches.filter { b =>
        val want = (b.from until b.until).count(i =>
          !(dedup && gen.records.isRepeat(i)) && gen.records.accepted(i)).toLong
        !emitted.get(b.id).contains(want)
      }.map(_.id) ++ sunk.map(_.id).filterNot(reported)
    }
  }

  private val subpartitions = 64
  /** Latency resolution: due times are grouped, and latencies binned, by
    * this many microseconds. */
  val Bin = 100L

  /** The worker topology, behind an intake dedup when `dedupDelay` is set. */
  def topology(events: DataFrame, dedupDelay: Option[String]): DataFrame = {
    val fresh = dedupDelay.fold(events)(StreamingDedup.exact(events, col("payload"), "due", _))
    val accepted = fresh.filter(col("event_type") =!= "view")
    Subpartitions.byKeyHash(accepted, col("user_id"), subpartitions, kafkaCompatible = true)
      .withColumn("key_hash", xxhash64(col("user_id"), col("event_type")))
      .withColumn("is_sale", (col("event_type") === "purchase").cast("int"))
      .withColumn("pay_len", length(col("payload")))
      .withColumn("weight", RecordWeigher.recordWeight(
        col("user_id"), col("payload"), lit("events")))
      .withColumn("due_key", unix_micros(col("due")).divide(lit(Bin)).cast("long"))
  }

  /** The batches the query ran, from its progress reports: those that
    * time `addBatch`, which leaves out reports of idle triggers but keeps
    * the no-data batches that evict the dedup's state. */
  private def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(p => p.durationMs.containsKey("addBatch")).map { p =>
      val s = p.sources.head
      val st = p.stateOperators.headOption
      Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(s.startOffset).map(_.trim.toLong).getOrElse(0L), s.endOffset.trim.toLong,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.numRowsUpdated).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L))
    }.sortBy(_.id)

  /** Runs the topology over `gen` until `done` says stop; latencies are kept
    * for records due within `[measureFromUs, measureUntilUs)`. */
  private def runPart(spark: SparkSession, name: String, gen: Generator,
                      dedupDelay: Option[String], triggerMs: Long, cores: Int,
                      checkpoint: String, measureFromUs: Long, measureUntilUs: Long,
                      tracer: Option[Tracer])(done: => Boolean): Part = {
    val key = s"$name-${System.nanoTime()}"
    Generator.registry.put(key, gen)
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Sunk]()
    val hist = new Array[Long](600000)
    val events = spark.readStream.format(classOf[GenProvider].getName)
      .option("generator", key).option("partitions", cores.toString).load()
    val q = topology(events, dedupDelay).writeStream
      .option("checkpointLocation", s"$checkpoint/$key")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.foreach(_.label(s"$name/trigger/$id"))
        val t0 = System.nanoTime()
        val rows = b.groupBy("due_key").agg(count(lit(1)), sum("weight"),
          expr("bit_xor(key_hash)"), sum("is_sale"), sum("pay_len"),
          sum("subpartition")).collect()
        val emitKey = System.currentTimeMillis() * 1000L / Bin
        var n = 0L
        rows.foreach { r =>
          val dueKey = r.getLong(0)
          val c = r.getLong(1)
          n += c
          if (dueKey * Bin >= measureFromUs && dueKey * Bin < measureUntilUs) {
            val lat = math.min(hist.length - 1L, math.max(0L, emitKey - dueKey)).toInt
            hist(lat) += c
          }
        }
        sunk.add(Sunk(id, n, (System.nanoTime() - t0) / 1e6)): Unit
      }
      .start()
    var backlog = 0L
    try {
      while (!done && q.isActive) Thread.sleep(5)
      val lastEnd = batches(q).lastOption.fold(0L)(_.until)
      backlog = gen.latest(lastEnd) - lastEnd
      gen.stop()
      // Returns after the last batch's progress report: recentProgress is
      // updated on the query's thread before waiting callers are signalled.
      if (q.isActive) q.processAllAvailable()
      LiveHeap.sample()
    } finally {
      q.stop()
      gen.stop()
      Generator.registry.remove(key)
    }
    q.exception.foreach(e => throw e)
    require(q.recentProgress.length <
      spark.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt,
      s"$name: more progress reports than the query keeps")
    Part(name, gen, dedupDelay.isDefined, batches(q), sunk.asScala.toSeq.sortBy(_.id), hist,
      backlog)
  }

  final case class Result(open: Part, closed: Part, closedWallMs: Double,
                          measureFromMs: Long)

  def run(spark: SparkSession, records: Records, dedupDelay: String,
          rate: Double, triggerMs: Long, warmupS: Double,
          seconds: Double, closedBatchRows: Long, closedBatches: Int,
          cores: Int, checkpoint: String, tracer: Option[Tracer]): Result = {
    val gen = new Generator(records, rate, 0L, 0L)
    val from = gen.startUs + (warmupS * 1e6).toLong
    val until = from + (seconds * 1e6).toLong
    val open = runPart(spark, "open", gen, None, triggerMs, cores, checkpoint,
      from, until, tracer)(System.currentTimeMillis() * 1000L >= until)
    // One warm-up batch, then `closedBatches` timed batches.
    val total = closedBatchRows * (closedBatches + 1)
    val cgen = new Generator(records, rate, closedBatchRows, total)
    val closed = runPart(spark, "closed", cgen, Some(dedupDelay), 0L, cores,
      checkpoint, Long.MinValue, Long.MinValue, tracer)(true)
    val wall = closed.timed.drop(1).map(_.durations.getOrElse("triggerExecution", 0L)).sum
    Result(open, closed, wall.toDouble, from / 1000L)
  }

  /** p-th percentile, in ms, of a latency histogram of [[Bin]]-µs bins. */
  def percentile(hist: Array[Long], p: Double): Double = {
    val n = hist.sum
    if (n == 0) return Double.NaN
    val rank = math.ceil(p * n).toLong.max(1L)
    var acc = 0L
    var i = 0
    while (acc + hist(i) < rank) { acc += hist(i); i += 1 }
    i * Bin / 1000.0
  }
}
