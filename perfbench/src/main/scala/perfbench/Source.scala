package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A stand-in for a Kafka topic with a fixed partition count, read as a
  * streaming source with one input partition per topic partition. A key
  * always lands in the same partition, so per-key order holds within a
  * micro-batch as it does with Kafka.
  *
  * Each [[add]] appends one block atomically: a trigger sees all of it or
  * none of it, so a closed-loop batch is exactly the events added. Every
  * block is remembered with the time each of its events was due, so a
  * committed micro-batch (reported by its progress event) yields each
  * event's latency from due time to commit.
  */
final class Source(spark: SparkSession, val partitions: Int) {
  /** Per block: the lines of each partition. */
  private val blocks = mutable.ArrayBuffer.empty[Array[Array[String]]]
  /** Blocks not yet committed, as (offset, due times). */
  private val pending = mutable.Queue.empty[(Long, Array[Long])]
  private var outstanding = 0L
  private val id = Source.register(this)

  val df: DataFrame = spark.readStream.format(classOf[SourceProvider].getName)
    .option("id", id).load()

  /** Add lines, each due at the matching entry of `dueNs` (or untimed
    * when `dueNs` is null), as one block. */
  def add(lines: Seq[Line], dueNs: Array[Long]): Unit = synchronized {
    val parts = Array.fill(partitions)(mutable.ArrayBuilder.make[String])
    lines.foreach(l => parts(l.partition) += l.value)
    blocks += parts.map(_.result())
    val dues = if (dueNs == null) Array.empty[Long] else dueNs
    pending.enqueue((blocks.length - 1L) -> dues)
    outstanding += dues.length
  }

  private[perfbench] def latest: Long = synchronized(blocks.length - 1L)

  /** Drop the lines of blocks up to `end`, which the query has committed. */
  private[perfbench] def trim(end: Long): Unit = synchronized {
    (0 to end.toInt).foreach(blocks(_) = null)
  }

  /** The lines of blocks (start, end], per partition, in block order. */
  private[perfbench] def slice(start: Long, end: Long): Array[Array[String]] = synchronized {
    Array.tabulate(partitions)(p =>
      ((start + 1).toInt to end.toInt).iterator.flatMap(b => blocks(b)(p)).toArray)
  }

  /** Timed events added and not yet committed. */
  def backlog: Long = synchronized(outstanding)

  /** Release the blocks a committed batch covered, returning their due
    * times. */
  def commit(progress: StreamingQueryProgress): Array[Long] = synchronized {
    val end = progress.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.trim.toLong).getOrElse(-1L)
    val out = mutable.ArrayBuilder.make[Long]
    while (pending.nonEmpty && pending.head._1 <= end) {
      val dues = pending.dequeue()._2
      out ++= dues
      outstanding -= dues.length
    }
    out.result()
  }

  def allCommitted: Boolean = synchronized(pending.isEmpty)
}

object Source {
  private val live = new ConcurrentHashMap[String, Source]()
  private val ids = new AtomicLong(0)

  private def register(s: Source): String = {
    val id = ids.incrementAndGet().toString
    live.put(id, s)
    id
  }

  private[perfbench] def apply(id: String): Source = live.get(id)

  val Schema: StructType = StructType(Seq(StructField("value", StringType)))
}

/** Spark's entry point for [[Source]]: `readStream.format(<this class>)`. */
final class SourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Source.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SourceTable(Source(properties.get("id")))
}

private final class SourceTable(source: Source) extends Table with SupportsRead {
  override def name(): String = "perfbench_topic"
  override def schema(): StructType = Source.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = Source.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SourceStream(source)
    }
}

private final case class BlockOffset(block: Long) extends Offset {
  override def json(): String = block.toString
}

private final case class TopicPartition(lines: Array[String]) extends InputPartition

private final class SourceStream(source: Source) extends MicroBatchStream {
  override def initialOffset(): Offset = BlockOffset(-1)
  override def latestOffset(): Offset = BlockOffset(source.latest)
  override def deserializeOffset(json: String): Offset = BlockOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = source.trim(end.json.trim.toLong)
  override def stop(): Unit = ()
  override def toString: String = s"perfbench topic, ${source.partitions} partitions"

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    source.slice(start.json.trim.toLong, end.json.trim.toLong).map(TopicPartition(_): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory = TopicReaderFactory
}

private object TopicReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[TopicPartition].lines.iterator
      private var row: InternalRow = _
      override def next(): Boolean = it.hasNext && {
        row = InternalRow(UTF8String.fromString(it.next())); true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}
