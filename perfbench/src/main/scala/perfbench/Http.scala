package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** One keep-alive HTTP/1.1 connection to the server under test. A plain
  * socket keeps the client's own thread count at exactly one per
  * connection (the JDK HttpClient brings its own selector and pool).
  */
final class Conn(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(10000)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 4096)

  private def readLine(): String = {
    val b = new java.lang.StringBuilder()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.append(c.toChar)
      c = in.read()
    }
    b.toString
  }

  /** GET `uri`; returns (status, body). */
  def get(uri: String): (Int, String) = {
    out.write(s"GET $uri HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = -1
    var chunked = false
    var line = readLine()
    while (line.nonEmpty) {
      val l = line.toLowerCase
      if (l.startsWith("content-length:")) len = l.substring(15).trim.toInt
      else if (l.startsWith("transfer-encoding:") && l.contains("chunked")) chunked = true
      line = readLine()
    }
    val body =
      if (chunked) {
        val buf = new ByteArrayOutputStream()
        var n = Integer.parseInt(readLine().trim, 16)
        while (n > 0) { buf.write(in.readNBytes(n)); readLine(); n = Integer.parseInt(readLine().trim, 16) }
        readLine()
        buf.toByteArray
      } else if (len > 0) in.readNBytes(len)
      else Array.emptyByteArray
    (status, new String(body, StandardCharsets.UTF_8))
  }

  def close(): Unit = sock.close()
}

/** Outcome of one request of an open-loop stream. Times are nanoTime. */
final case class Outcome(idx: Int, due: Long, sent: Long, done: Long, status: Int, body: String) {
  def latencyMs: Double = (done - due) / 1e6
  def lateMs: Double = (sent - due) / 1e6
}

object Http {

  /** Open loop: request i is due at start + i / rate, whether or not earlier
    * ones have finished; `workers` threads, one connection each, take the
    * next due request in order. Latency runs from the due time, so a stall
    * also charges the requests queued behind it. An infinite rate is a
    * closed loop: each thread sends its next request as soon as its last
    * one is answered, until `seconds` have passed.
    */
  def openLoop(port: Int, reqs: IndexedSeq[Request], rate: Double, seconds: Double, workers: Int,
      keepBodies: Boolean, onDone: Outcome => Unit = _ => ()): IndexedSeq[Outcome] = {
    val closed = rate.isInfinite
    val n = if (closed) reqs.size else math.min(reqs.size, math.max(1, math.round(rate * seconds).toInt))
    val out = new Array[Outcome](n)
    val next = new AtomicInteger(0)
    val start = System.nanoTime() + 5000000L
    val until = if (closed) start + (seconds * 1e9).toLong else Long.MaxValue
    val interval = if (closed) 0.0 else 1e9 / rate
    val threads = (0 until workers).map { _ =>
      new Thread(() => {
        var conn: Conn = null
        try {
          var i = next.getAndIncrement()
          while (i < n && System.nanoTime() < until) {
            val due = start + (i * interval).toLong
            var now = System.nanoTime()
            while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
            val sent = System.nanoTime()
            val (status, body) =
              try {
                if (conn == null) conn = new Conn(port)
                conn.get(reqs(i).uri)
              } catch {
                case _: Exception =>
                  if (conn != null) { try conn.close() catch { case _: Exception => () }; conn = null }
                  (-1, "")
              }
            val o = Outcome(i, due, sent, System.nanoTime(), status, if (keepBodies) body else null)
            out(i) = o
            onDone(o)
            i = next.getAndIncrement()
          }
        } finally if (conn != null) conn.close()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.iterator.filter(_ != null).toIndexedSeq
  }

  // ---- response parsing (the server's JSON shapes are fixed by its specs)

  private val HitRe = """\{"docId":(-?\d+),"score":([^,]+),""".r
  private val SuggestRe = """\{"term":"((?:[^"\\]|\\.)*)","df":(\d+)\}""".r
  private val DymRe = """\{"term":"((?:[^"\\]|\\.)*)","suggestion":"((?:[^"\\]|\\.)*)","df":(\d+)\}""".r

  def hits(body: String): Seq[(Long, Double)] =
    HitRe.findAllMatchIn(body).map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq
  def suggestions(body: String): Seq[(String, Long)] =
    SuggestRe.findAllMatchIn(body).map(m => (m.group(1), m.group(2).toLong)).toSeq
  def corrections(body: String): Seq[(String, String, Long)] =
    DymRe.findAllMatchIn(body).map(m => (m.group(1), m.group(2), m.group(3).toLong)).toSeq
}
