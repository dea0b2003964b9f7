package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetAddress}

import org.scalatest.funsuite.AnyFunSuite

/** The UDP source's offsets over loopback, without Spark: a batch planned
  * after a commit returns the right records with seqs that continue
  * across commits, and `commit` releases what it covers. */
class UdpMicroBatchStreamSpec extends AnyFunSuite {

  private val recordLength = 188

  /** One datagram of `n` records, record k filled with byte `first + k`,
    * plus a trailing partial record the source must drop. */
  private def datagram(first: Int, n: Int): Array[Byte] =
    (0 until n).flatMap(k => Array.fill(recordLength)((first + k).toByte))
      .toArray ++ Array.fill(100)(0xEE.toByte)

  /** (seq, first byte) of every row of the batch [start, end). */
  private def rows(st: UdpMicroBatchStream, start: Long, end: Long)
      : Seq[(Long, Int)] = {
    val parts = st.planInputPartitions(UdpOffset(start), UdpOffset(end))
    val factory = st.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val row = r.get()
        assert(row.getBinary(1).length == recordLength)
        (row.getLong(0), row.getBinary(1)(0).toInt)
      }.toVector
    }
  }

  test("planInputPartitions after commit returns the right rows, seqs " +
    "continue across commits, and committed records are released") {
    val st = new UdpMicroBatchStream(0, recordLength)
    val port = UdpSource.boundPorts.get(0)
    val out = new DatagramSocket()
    def send(first: Int, n: Int): Unit = {
      val b = datagram(first, n)
      out.send(new DatagramPacket(b, b.length,
        InetAddress.getLoopbackAddress, port))
    }
    def awaitOffset(n: Long): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (st.latestOffset() != UdpOffset(n)) {
        assert(System.nanoTime() < deadline,
          s"latest offset ${st.latestOffset()}, want $n")
        Thread.sleep(5)
      }
    }
    try {
      send(0, 3)
      send(3, 3)
      awaitOffset(6)
      assert(rows(st, 0, 4) == (0 until 4).map(k => (k.toLong, k)))
      st.commit(UdpOffset(4))
      assert(st.buffered == 2)
      send(6, 3)
      awaitOffset(9)
      assert(rows(st, 4, 9) == (4 until 9).map(k => (k.toLong, k)))
      val e = intercept[IllegalStateException](rows(st, 2, 9))
      assert(e.getMessage.contains("offsets [2, 4)"), e.getMessage)
      st.commit(UdpOffset(9))
      assert(st.buffered == 0)
      assert(st.latestOffset() == UdpOffset(9))
      send(9, 2)
      awaitOffset(11)
      assert(rows(st, 9, 11) == Seq((9L, 9), (10L, 10)))
    } finally { out.close(); st.stop() }
  }
}
