package graft.perfbench

import java.io.{ByteArrayOutputStream, DataInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32C, GZIPInputStream, GZIPOutputStream}

/** The benchmark's own TFRecord framing and tf.train.Example proto
  * codec. Output checks decode with this, never with `graft.io` or
  * `graft.encode`, so a defect in the layers under test cannot hide
  * itself from the check. Encoding exists only so the self-test can
  * write corrupted copies of real outputs. */
object Codec {

  sealed trait Feature
  final case class I64(vs: Seq[Long]) extends Feature
  /** float32 values, kept as their IEEE bits so equality is exact. */
  final case class F32(bits: Seq[Int]) extends Feature
  final case class Bs(vs: Seq[Array[Byte]]) extends Feature
  /** A feature with no value list set (how a NULL column is encoded). */
  case object NoValue extends Feature

  type Example = Map[String, Feature]

  // ------------------------------------------------------------ framing

  private def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C
    c.update(b, off, len)
    val v = c.getValue.toInt
    ((v >>> 15) | (v << 17)) + 0xa282ead8
  }

  private def le(b: Array[Byte], off: Int, n: Int): Long =
    (0 until n).foldLeft(0L)((acc, i) => acc | ((b(off + i) & 0xffL) << (8 * i)))

  /** Every record of one gzipped TFRecord shard; both CRCs verified. */
  def records(gz: InputStream): Iterator[Array[Byte]] = {
    val in = new DataInputStream(new GZIPInputStream(gz, 1 << 16))
    val header = new Array[Byte](12)
    new Iterator[Array[Byte]] {
      private var nextRec: Array[Byte] = advance()
      private def advance(): Array[Byte] = {
        val first = in.read()
        if (first < 0) { in.close(); return null }
        header(0) = first.toByte
        in.readFully(header, 1, 11)
        require(le(header, 8, 4).toInt == maskedCrc(header, 0, 8),
          "TFRecord length CRC mismatch")
        val len = le(header, 0, 8)
        require(len >= 0 && len < Int.MaxValue, s"TFRecord length $len")
        val data = new Array[Byte](len.toInt)
        val crc = new Array[Byte](4)
        try { in.readFully(data); in.readFully(crc) }
        catch { case _: EOFException => sys.error("truncated TFRecord") }
        require(le(crc, 0, 4).toInt == maskedCrc(data, 0, data.length),
          "TFRecord data CRC mismatch")
        data
      }
      def hasNext: Boolean = nextRec != null
      def next(): Array[Byte] = { val r = nextRec; nextRec = advance(); r }
    }
  }

  /** Write records as one gzipped TFRecord shard. */
  def writeRecords(out: OutputStream, recs: Iterator[Array[Byte]]): Unit = {
    val gz = new GZIPOutputStream(out)
    def leBytes(v: Long, n: Int) = Array.tabulate[Byte](n)(i => (v >>> (8 * i)).toByte)
    recs.foreach { r =>
      val len = leBytes(r.length.toLong, 8)
      gz.write(len)
      gz.write(leBytes(maskedCrc(len, 0, 8).toLong & 0xffffffffL, 4))
      gz.write(r)
      gz.write(leBytes(maskedCrc(r, 0, r.length).toLong & 0xffffffffL, 4))
    }
    gz.close()
  }

  // ------------------------------------------------------------ proto

  private final class Reader(b: Array[Byte], private var pos: Int, end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L; var byte = 0
      while ({ byte = b(pos) & 0xff; pos += 1; v |= (byte & 0x7fL) << shift; shift += 7
        (byte & 0x80) != 0 }) ()
      v
    }
    def fixed32(): Int = { val v = le(b, pos, 4).toInt; pos += 4; v }
    def sub(): Reader = { val n = varint().toInt; val r = new Reader(b, pos, pos + n); pos += n; r }
    def bytes(): Array[Byte] = { val n = varint().toInt; val r = b.slice(pos, pos + n); pos += n; r }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case w => sys.error(s"unsupported wire type $w")
    }
  }

  private def feature(r: Reader): Feature = {
    var f: Feature = NoValue
    while (r.more) {
      val tag = r.varint().toInt
      val list = if ((tag & 7) == 2) r.sub() else { r.skip(tag & 7); null }
      if (list != null) tag >>> 3 match {
        case 1 =>
          val vs = Vector.newBuilder[Array[Byte]]
          while (list.more) { val t = list.varint().toInt
            if (t == 10) vs += list.bytes() else list.skip(t & 7) }
          f = Bs(vs.result())
        case 2 =>
          val vs = Vector.newBuilder[Int]
          while (list.more) list.varint().toInt match {
            case 10 => val p = list.sub(); while (p.more) vs += p.fixed32()
            case 13 => vs += list.fixed32()
            case t => list.skip(t & 7)
          }
          f = F32(vs.result())
        case 3 =>
          val vs = Vector.newBuilder[Long]
          while (list.more) list.varint().toInt match {
            case 10 => val p = list.sub(); while (p.more) vs += p.varint()
            case 8 => vs += list.varint()
            case t => list.skip(t & 7)
          }
          f = I64(vs.result())
        case _ =>
      }
    }
    f
  }

  /** Parse a serialized tf.train.Example into its feature map. */
  def decode(bytes: Array[Byte]): Example = {
    val out = Map.newBuilder[String, Feature]
    val ex = new Reader(bytes, 0, bytes.length)
    while (ex.more) {
      val t = ex.varint().toInt
      if (t == 10) {
        val feats = ex.sub()
        while (feats.more) {
          val ft = feats.varint().toInt
          if (ft == 10) {
            val entry = feats.sub()
            var name = ""; var value: Feature = NoValue
            while (entry.more) entry.varint().toInt match {
              case 10 => name = new String(entry.bytes(), UTF_8)
              case 18 => value = feature(entry.sub())
              case et => entry.skip(et & 7)
            }
            out += name -> value
          } else feats.skip(ft & 7)
        }
      } else ex.skip(t & 7)
    }
    out.result()
  }

  private def writeVarint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }
  private def field(o: ByteArrayOutputStream, num: Int, payload: Array[Byte]): Unit = {
    writeVarint(o, (num << 3 | 2).toLong); writeVarint(o, payload.length.toLong); o.write(payload)
  }
  private def build(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new ByteArrayOutputStream; f(o); o.toByteArray
  }

  def encode(ex: Example): Array[Byte] = build { o =>
    field(o, 1, build { feats =>
      ex.toSeq.sortBy(_._1).foreach { case (name, f) =>
        field(feats, 1, build { e =>
          field(e, 1, name.getBytes(UTF_8))
          field(e, 2, build { fo => f match {
            case Bs(vs) => field(fo, 1, build(l => vs.foreach(field(l, 1, _))))
            case F32(bits) => field(fo, 2, build(l => field(l, 1, build { p =>
              bits.foreach(b => (0 until 4).foreach(i => p.write(b >>> (8 * i))))
            })))
            case I64(vs) => field(fo, 3, build(l => field(l, 1, build(p => vs.foreach(writeVarint(p, _))))))
            case NoValue =>
          }})
        })
      }
    })
  }

  // ------------------------------------------------------------ canonical form

  /** One feature as text: kind tag plus exact values. A NULL column and
    * an empty list read the same, as they do to a tf.Example reader. */
  def show(f: Feature): String = f match {
    case I64(vs) if vs.nonEmpty => "i:" + vs.mkString(",")
    case F32(bs) if bs.nonEmpty => "f:" + bs.mkString(",")
    case Bs(vs) if vs.nonEmpty => "b:" + vs.map(v => new String(v, UTF_8)).mkString("\u0001")
    case _ => "-"
  }

  /** 64-bit content hash of one record; summed over records it gives an
    * order-independent checksum of a whole output. */
  def hash(ex: Example): Long = hashString(
    ex.toSeq.sortBy(_._1).map { case (k, f) => s"$k=${show(f)}" }.mkString("\n"))

  def hashString(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }
}
