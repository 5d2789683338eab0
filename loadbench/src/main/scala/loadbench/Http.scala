package loadbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket, URLEncoder}

/** Minimal blocking HTTP/1.1 client over one keep-alive loopback
  * connection. Each client thread owns one instance and sends requests one
  * at a time. The whole request goes out in a single write with TCP_NODELAY
  * set, so no request waits on Nagle's algorithm and a delayed ACK.
  */
final class Http(port: Int) {

  final case class Response(code: Int, body: Array[Byte]) {
    def text: String = new String(body, "UTF-8")
  }

  private var socket: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _

  private def connect(): Unit = {
    close()
    socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress("127.0.0.1", port))
    in = new BufferedInputStream(socket.getInputStream, 65536)
    out = socket.getOutputStream
  }

  def close(): Unit = if (socket != null) { socket.close(); socket = null }

  private def line(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString("ISO-8859-1")
  }

  private def readN(n: Int): Array[Byte] = {
    val buf = in.readNBytes(n)
    if (buf.length != n) throw new java.io.EOFException("truncated body")
    buf
  }

  private def exchange(method: String, target: String, body: Array[Byte],
                       contentType: String): Response = {
    val head = new StringBuilder(s"$method $target HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n")
    if (body != null) head.append(s"Content-Type: $contentType\r\nContent-Length: ${body.length}\r\n")
    head.append("\r\n")
    val req = new ByteArrayOutputStream()
    req.write(head.toString.getBytes("ISO-8859-1"))
    if (body != null) req.write(body)
    out.write(req.toByteArray)
    out.flush()
    val status = line().split(" ")
    val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).map { h =>
      val i = h.indexOf(':')
      h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim
    }.toMap
    val code = status(1).toInt
    val payload =
      if (headers.get("transfer-encoding").exists(_.equalsIgnoreCase("chunked"))) {
        val acc = new ByteArrayOutputStream()
        var n = Integer.parseInt(line().split(";")(0).trim, 16)
        while (n > 0) { acc.write(readN(n)); line(); n = Integer.parseInt(line().split(";")(0).trim, 16) }
        line()
        acc.toByteArray
      } else headers.get("content-length").map(l => readN(l.toInt)).getOrElse(Array.emptyByteArray)
    if (headers.get("connection").exists(_.equalsIgnoreCase("close"))) close()
    Response(code, payload)
  }

  private def request(method: String, target: String, body: Array[Byte], contentType: String): Response = {
    if (socket == null) connect()
    exchange(method, target, body, contentType)
  }

  def get(pathAndQuery: String): Response = request("GET", pathAndQuery, null, null)

  def post(path: String, body: Array[Byte], contentType: String): Response =
    request("POST", path, body, contentType)
}

object Http {
  def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
}
