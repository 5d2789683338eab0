package loadbench

import java.io.ByteArrayOutputStream

/** Client-side Prometheus remote-write encoder: protobuf `WriteRequest`
  * in the public wire layout, then snappy block compression, exactly what a
  * Prometheus agent POSTs to /api/v1/write.
  *
  *   WriteRequest { repeated TimeSeries timeseries = 1; }
  *   TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
  *   Label        { string name = 1; string value = 2; }
  *   Sample       { double value = 1; int64 timestamp = 2; }  // ms
  */
object RemoteWrite {

  final case class Series(labels: Seq[(String, String)], samples: Seq[(Long, Double)])

  private def varint(out: ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7FL) != 0L) {
      out.write(((x & 0x7F) | 0x80).toInt)
      x >>>= 7
    }
    out.write(x.toInt)
  }

  private def tag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    varint(out, (field.toLong << 3) | wireType)

  private def bytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    tag(out, field, 2)
    varint(out, b.length.toLong)
    out.write(b)
  }

  private def label(name: String, value: String): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    bytesField(o, 1, name.getBytes("UTF-8"))
    bytesField(o, 2, value.getBytes("UTF-8"))
    o.toByteArray
  }

  private def sample(tsMs: Long, value: Double): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    tag(o, 1, 1)
    val bits = java.lang.Double.doubleToRawLongBits(value)
    var i = 0
    while (i < 8) { o.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    tag(o, 2, 0)
    varint(o, tsMs)
    o.toByteArray
  }

  /** Uncompressed protobuf bytes of one WriteRequest. */
  def encode(series: Seq[Series]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    series.foreach { s =>
      val ts = new ByteArrayOutputStream()
      s.labels.foreach { case (n, v) => bytesField(ts, 1, label(n, v)) }
      s.samples.foreach { case (t, v) => bytesField(ts, 2, sample(t, v)) }
      bytesField(out, 1, ts.toByteArray)
    }
    out.toByteArray
  }

  /** The request body: snappy-compressed WriteRequest. */
  def body(series: Seq[Series]): Array[Byte] = org.xerial.snappy.Snappy.compress(encode(series))
}
