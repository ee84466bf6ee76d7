package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The stream workload's records, as pure functions of (seed, index).
  *
  * Record i carries its due time (`due`), a key (`user_id`), an event type
  * (a quarter are `view`, which the worker's accept() drops) and a payload.
  * About `dupShare` of the records repeat the payload of a record at most
  * `dupSpan` positions earlier; a repeat's original is always itself an
  * original, so the records a first-wins dedup keeps are exactly the
  * non-repeats, whatever the batch boundaries.
  */
final case class Records(seed: Long, keys: Int, dupShare: Double, dupSpan: Int) {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(i: Long, salt: Long): Long = mix(mix(seed * 31 + salt) ^ i)
  private def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  def isRepeat(i: Long): Boolean = i >= dupSpan && unit(h(i, 1)) < dupShare
  /** The original whose payload record i carries. */
  def original(i: Long): Long =
    if (!isRepeat(i)) i
    else {
      var j = i - 1 - java.lang.Long.remainderUnsigned(h(i, 2), dupSpan)
      while (isRepeat(j)) j -= 1
      j
    }
  def key(i: Long): Long = java.lang.Long.remainderUnsigned(h(i, 3), keys)
  def eventType(i: Long): Int = java.lang.Long.remainderUnsigned(h(i, 4), 4).toInt
  def payload(i: Long): String = {
    val o = original(i)
    "payload_" + java.lang.Long.toHexString(h(o, 5)) + "_" + ("x" * (16 + (o % 48).toInt))
  }
  def accepted(i: Long): Boolean = eventType(i) != 0
}

object Records {
  val EventTypes: Array[String] = Array("view", "click", "cart", "purchase")
  val schema: StructType = StructType(Seq(
    StructField("value", LongType, nullable = false),
    StructField("due", TimestampType, nullable = false),
    StructField("user_id", StringType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("payload", StringType, nullable = false)))
}

/** An open-loop or closed-loop source of [[Records]].
  *
  * Record i is due at `startUs + i / rate`. Open loop (`batchRows` == 0):
  * a generator thread wakes every millisecond and publishes every record
  * due by then, whether or not the engine has consumed the earlier ones,
  * so the backlog grows when the engine falls behind. Each wake records how
  * late it ran relative to the oldest tick it publishes.
  *
  * Closed loop (`batchRows` > 0): each micro-batch takes the next
  * `batchRows` records, up to `total`, whatever their due times.
  */
final class Generator(val records: Records, val rate: Double,
                      val batchRows: Long, val total: Long) {
  val startUs: Long = System.currentTimeMillis() * 1000L
  private val startNs = System.nanoTime()
  private val available = new AtomicLong(0L)
  private val lateUs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val open = batchRows == 0
  @volatile private var running = open

  def dueUs(i: Long): Long = startUs + math.floor(i * 1e6 / rate).toLong

  private val ticker = new Thread(() => {
    var tick = 0L
    while (running) {
      val next = tick + 1
      val target = startNs + next * 1000000L
      var now = System.nanoTime()
      while (now < target) { LockSupport.parkNanos(target - now); now = System.nanoTime() }
      tick = (now - startNs) / 1000000L
      available.set(math.floor(tick * rate / 1000.0).toLong)
      lateUs.add((now - target) / 1000L)
    }
  }, "perfbench-generator")
  ticker.setDaemon(true)
  if (running) ticker.start()

  def stop(): Unit = { running = false; ticker.join() }
  def latest(from: Long): Long =
    if (open) available.get() else math.min(total, from + batchRows)
  def lateness: Seq[Long] = lateUs.asScala.map(_.longValue).toSeq
}

object Generator {
  val registry = new ConcurrentHashMap[String, Generator]()
}

class GenProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Records.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GenTable(properties.get("generator"), properties.get("partitions").toInt)
}

final class GenTable(gen: String, partitions: Int) extends Table with SupportsRead {
  override def name(): String = s"perfbench-generator:$gen"
  override def schema(): StructType = Records.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = Records.schema
      override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
        new GenStream(gen, partitions)
    }
}

final class GenOffset(val i: Long) extends Offset {
  override def json(): String = i.toString
}

final case class GenSlice(gen: String, from: Long, until: Long) extends InputPartition

final class GenStream(gen: String, partitions: Int)
    extends MicroBatchStream with SupportsAdmissionControl {
  private def g = Generator.registry.get(gen)

  override def initialOffset(): Offset = new GenOffset(0L)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    new GenOffset(g.latest(start.asInstanceOf[GenOffset].i))
  override def deserializeOffset(json: String): Offset = new GenOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[GenOffset].i, end.asInstanceOf[GenOffset].i)
    (0 until partitions).map { p =>
      GenSlice(gen, a + (b - a) * p / partitions, a + (b - a) * (p + 1) / partitions)
    }.filter(s => s.until > s.from).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = (part: InputPartition) => {
    val s = part.asInstanceOf[GenSlice]
    val gen = Generator.registry.get(s.gen)
    val r = gen.records
    new PartitionReader[InternalRow] {
      private var i = s.from - 1
      override def next(): Boolean = { i += 1; i < s.until }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        i, gen.dueUs(i), UTF8String.fromString("user_" + r.key(i)),
        UTF8String.fromString(Records.EventTypes(r.eventType(i))),
        UTF8String.fromString(r.payload(i))))
      override def close(): Unit = ()
    }
  }
}
