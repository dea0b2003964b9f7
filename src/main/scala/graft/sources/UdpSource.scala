package graft.sources

import java.net.{DatagramPacket, DatagramSocket}
import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayDeque

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S1 — UDP datagram streaming source (SURVEY §2.1): the reference's
  * `distr_thr` blocking-recv loop (`mpeg2_sp.c:1340-1357`) as a
  * DataSourceV2 `MicroBatchStream`. Datagrams are split into fixed-width
  * records (188 B TS packets; 7 per 1316 B "legacy UDP" datagram,
  * `ts.h:38`) and emitted as (seq, bytes) rows.
  *
  * Like Spark's own socket source, the receiver runs driver-side and
  * buffers between offsets — fine for the reference's single-stream
  * regime (≤ a few Mbps); at 100 TB scale the ingest edge is a durable
  * log (Kafka/Kinesis) and this source's role is protocol parity +
  * tests. A record's offset (and seq) is its arrival index since the
  * stream started; `commit` releases every record below the committed
  * offset, so the buffer holds only the uncommitted backlog.
  *
  * Usage: spark.readStream.format("graft.sources.UdpSource")
  *   .option("port", n).option("recordLength", 188).load()
  */
class UdpSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    UdpSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new UdpTable(properties.getOrDefault("port", "0").toInt,
      properties.getOrDefault("recordlength", "188").toInt)
}

object UdpSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("bytes", BinaryType, nullable = false)))

  /** Test hook: live streams register here so tests can learn the bound
    * ephemeral port. Keyed by configured port (0 = ephemeral). */
  val boundPorts = new ConcurrentHashMap[Int, Int]()
}

class UdpTable(port: Int, recordLength: Int) extends Table
    with SupportsRead {
  override def name(): String = s"udp:$port"
  override def schema(): StructType = UdpSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan {
    override def readSchema(): StructType = UdpSource.schema
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream =
      new UdpMicroBatchStream(port, recordLength)
  }
}

case class UdpOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

class UdpMicroBatchStream(port: Int, recordLength: Int)
    extends MicroBatchStream {
  // the uncommitted records; records(i) has offset base + i. Both are
  // guarded by records' monitor.
  private val records = new ArrayDeque[Array[Byte]]()
  private var base = 0L
  private val running = new AtomicBoolean(true)
  private val socket = new DatagramSocket(port)
  UdpSource.boundPorts.put(port, socket.getLocalPort)

  private val receiver = new Thread(s"graft-udp-recv-$port") {
    override def run(): Unit = {
      val buf = new Array[Byte](65536)
      while (running.get()) {
        try {
          val dgram = new DatagramPacket(buf, buf.length)
          socket.receive(dgram)
          val n = dgram.getLength
          records.synchronized {
            // split the datagram into fixed-width records; a trailing
            // partial record is dropped with the same policy as the
            // reference's size check (`mpeg2_sp.c:1421-1430`)
            var off = 0
            while (off + recordLength <= n) {
              records += java.util.Arrays.copyOfRange(
                dgram.getData, off, off + recordLength)
              off += recordLength
            }
          }
        } catch {
          case _: java.net.SocketException if !running.get() => // closing
          case _: Exception if running.get() => // keep receiving
        }
      }
    }
  }
  receiver.setDaemon(true)
  receiver.start()

  override def latestOffset(): Offset =
    UdpOffset(records.synchronized(base + records.length))
  override def initialOffset(): Offset = UdpOffset(0L)
  override def deserializeOffset(json: String): Offset =
    UdpOffset(json.toLong)

  /** Releases every record below `end` (all of them, if fewer have
    * arrived, as after a restart from a checkpoint). */
  override def commit(end: Offset): Unit = records.synchronized {
    val n = math.min(end.asInstanceOf[UdpOffset].count - base,
      records.length.toLong)
    if (n > 0) {
      records.remove(0, n.toInt)
      base += n
    }
  }

  /** Records held in the buffer, not yet released by `commit`. */
  private[sources] def buffered: Int = records.synchronized(records.length)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[UdpOffset].count
    val e = end.asInstanceOf[UdpOffset].count
    val slice = records.synchronized {
      if (s < base) throw new IllegalStateException(
        s"UdpSource: offsets [$s, $base) were committed and released")
      records.slice((s - base).toInt, (e - base).toInt).toArray
    }
    Array(UdpInputPartition(s, slice))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[UdpInputPartition]
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < p.rows.length }
        override def get(): InternalRow =
          new GenericInternalRow(
            Array[Any](p.startSeq + i, p.rows(i)))
        override def close(): Unit = ()
      }
    }

  override def stop(): Unit = {
    running.set(false)
    socket.close()
  }
}

case class UdpInputPartition(startSeq: Long, rows: Array[Array[Byte]])
    extends InputPartition
