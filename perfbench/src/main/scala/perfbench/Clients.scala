package perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** Outcome of one client operation: latency from `startNs` (the send
 * time, unless the caller times from an earlier point) to the last
 * byte, whether it succeeded, and its body. */
final case class Reply(ok: Boolean, latencyNs: Long, body: String, bytes: Long)

/** A loopback HTTP/1.1 client holding one connection. Non-2xx replies,
 * exceptions and timeouts are failures. */
final class Http(port: Int, timeout: Duration = Duration.ofSeconds(60)) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def call(method: String, path: String, body: String = "",
      startNs: Long = System.nanoTime()): Reply = {
    val pub =
      if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofString(body)
    val req = HttpRequest.newBuilder(URI.create(base + path)).timeout(timeout)
      .method(method, pub).build()
    try {
      val res = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      val bytes = res.body()
      val end = System.nanoTime()
      Reply(res.statusCode() / 100 == 2, end - startNs, new String(bytes, UTF_8), bytes.length)
    } catch {
      case e: Exception => Reply(ok = false, System.nanoTime() - startNs, String.valueOf(e), 0)
    }
  }

  def get(path: String): Reply = call("GET", path)
}

/** A memcached-binary client bound to one bucket: a batch is a SETQ
 * stream plus a NOOP, acknowledged when the NOOP reply arrives. Any
 * non-OK status or exception fails the batch. */
final class Mc(port: Int, db: String) {
  import graft.http.SeriesMc._
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(60000)
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))

  private def send(opcode: Int, key: String, value: String): Unit = {
    val k = key.getBytes(UTF_8)
    val v = value.getBytes(UTF_8)
    out.writeByte(ReqMagic); out.writeByte(opcode); out.writeShort(k.length)
    out.writeByte(0); out.writeByte(0); out.writeShort(0)
    out.writeInt(k.length + v.length); out.writeInt(0); out.writeLong(0L)
    out.write(k); out.write(v)
  }

  /** (opcode, status) of the next reply. */
  private def receive(): (Int, Int) = {
    require(in.readUnsignedByte() == ResMagic, "bad reply magic")
    val opcode = in.readUnsignedByte()
    in.readUnsignedShort(); in.readUnsignedByte(); in.readUnsignedByte()
    val status = in.readUnsignedShort()
    val len = in.readInt()
    in.readInt(); in.readLong()
    in.skipNBytes(len)
    (opcode, status)
  }

  send(SelectBucket, db, ""); out.flush()
  require(receive()._2 == Status.OK, s"cannot select bucket $db")

  def batch(docs: Seq[(String, String)], startNs: Long = System.nanoTime()): Reply =
    try {
      docs.foreach { case (k, v) => send(SetQ, k, v) }
      send(Noop, "", ""); out.flush()
      var ok = true
      var done = false
      while (!done) {
        val (op, status) = receive()
        if (status != Status.OK) ok = false
        if (op == Noop) done = true
      }
      Reply(ok, System.nanoTime() - startNs, "", 0)
    } catch {
      case e: Exception => Reply(ok = false, System.nanoTime() - startNs, String.valueOf(e), 0)
    }

  def close(): Unit = sock.close()
}
