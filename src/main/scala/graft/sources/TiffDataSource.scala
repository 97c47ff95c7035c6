package graft.sources

import java.nio.ByteBuffer
import java.util
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.types._

/** DataSource V2 reader for TIFF detector images — the third
  * detector-container source next to SPE and EDF, covering the most
  * common beamline interchange format (Pilatus exports 32-bit signed
  * TIFF, marCCD 16-bit unsigned; pyspec's `ccd` scope reads such
  * stacks frame by frame).
  *
  * Format scope is the baseline grayscale profile of the public TIFF
  * 6.0 specification, which is what detector software writes:
  * uncompressed (Compression=1), single-sample (SamplesPerPixel=1),
  * strip-organized images of 8/16/32-bit unsigned/signed integers or
  * 32/64-bit IEEE floats, both byte orders ("II" little / "MM" big),
  * multi-page (a chained-IFD stack = a frame series) or one frame per
  * file (a directory read composes the series).
  *
  * Planning, pushdown, partitioning and tails are the frame-stack
  * core's ([[FrameScanBuilder]], [[FrameMicroBatchStream]]); the
  * header pass walks ONLY the 8-byte header and the IFD chain —
  * bounded positional reads of tag tables, never pixel data — and a
  * frame descriptor carries its strip offsets/byte counts so readers
  * seek straight to their own strips.
  *
  * Schema (one row per frame/page):
  *   file string, frame long, width int, height int, n_frames long,
  *   datatype string (uint8/int8/uint16/int16/uint32/int32/float32/
  *   float64), byte_order string ("II"|"MM"), pixels array<double>
  *   (row-major).
  */
class TiffDataSource extends FrameStackSource {
  override def shortName(): String = "tiff"
  override protected def format(options: util.Map[String, String]): StackFormat = TiffSchema
}

object TiffSchema extends StackFormat {
  override val extraColumns: Seq[StructField] = Seq(
    StructField("datatype", StringType),
    StructField("byte_order", StringType))

  /** (SampleFormat, BitsPerSample) pairs with a pixel type; anything
    * else — 64-bit integers, 16-bit floats — is rejected by the walk. */
  val PixelTypes: Map[(Int, Int), PixelType] = Map(
    (1, 8) -> PixelType.U8, (2, 8) -> PixelType.I8,
    (1, 16) -> PixelType.U16, (2, 16) -> PixelType.I16,
    (1, 32) -> PixelType.U32, (2, 32) -> PixelType.I32,
    (3, 32) -> PixelType.F32, (3, 64) -> PixelType.F64)

  /** One page's decode plan: everything a reader needs to fetch and
    * interpret its strips without reopening the IFD chain. */
  final case class TiffFrame(width: Int, height: Int, pixel: PixelType, littleEndian: Boolean,
                             stripOffsets: Seq[Long], stripByteCounts: Seq[Long]) extends StackFrame {
    override def dataBytes: Long = stripByteCounts.sum
    override def read(in: FSDataInputStream, buf: Array[Byte]): Unit = {
      var at = 0
      stripOffsets.zip(stripByteCounts).foreach { case (off, cnt) =>
        in.readFully(off, buf, at, cnt.toInt)
        at += cnt.toInt
      }
    }
    override def extra(column: String): Any = column match {
      case "datatype" => pixel.name
      case "byte_order" => if (littleEndian) "II" else "MM"
    }
  }

  // TIFF 6.0 tag ids (public specification)
  private val TagWidth = 256
  private val TagHeight = 257
  private val TagBits = 258
  private val TagCompression = 259
  private val TagStripOffsets = 273
  private val TagSamplesPerPixel = 277
  private val TagStripByteCounts = 279
  private val TagSampleFormat = 339

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
    case 3 | 8 => 2 // SHORT/SSHORT
    case 4 | 9 | 11 => 4 // LONG/SLONG/FLOAT
    case 5 | 10 | 12 => 8 // RATIONAL/SRATIONAL/DOUBLE
    case t => throw new IllegalArgumentException(s"unsupported TIFF field type $t")
  }

  /** Walk the header + IFD chain with bounded positional reads; pixel
    * data is never touched. Returns one descriptor per page, in chain
    * order (= frame order). With `lenient`, a malformed/truncated
    * page stops the walk (returning complete pages) instead of
    * throwing — the live-tail contract of [[tail]].
    */
  def walk(path: String, conf: Configuration, lenient: Boolean = false): Seq[TiffFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len >= 8, s"$path: not a TIFF (len $len < 8)")
    val in = fs.open(p)
    try {
      val head = new Array[Byte](8)
      in.readFully(0L, head)
      val little = (head(0), head(1)) match {
        case ('I', 'I') => true
        case ('M', 'M') => false
        case _ => throw new IllegalArgumentException(s"$path: not a TIFF (bad byte-order mark)")
      }
      val order = PixelType.order(little)
      val hb = ByteBuffer.wrap(head).order(order)
      require((hb.getShort(2) & 0xFFFF) == 42, s"$path: not a TIFF (magic != 42)")
      var ifdOff = hb.getInt(4).toLong & 0xFFFFFFFFL

      /** A tag's values as longs, inline or out-of-line. */
      def values(tpe: Int, count: Long, field: Array[Byte]): Seq[Long] = {
        val sz = typeSize(tpe)
        val total = sz * count
        require(count <= (len / math.max(1, sz)) && count <= 1048576,
          s"$path: implausible TIFF tag count $count")
        val raw =
          if (total <= 4) field
          else {
            val off = ByteBuffer.wrap(field).order(order).getInt(0).toLong & 0xFFFFFFFFL
            val b = new Array[Byte](total.toInt)
            in.readFully(off, b)
            b
          }
        val bb = ByteBuffer.wrap(raw).order(order)
        (0 until count.toInt).map { i =>
          sz match {
            case 1 => (raw(i) & 0xFF).toLong
            case 2 => (bb.getShort(i * 2) & 0xFFFF).toLong
            case 4 => bb.getInt(i * 4).toLong & 0xFFFFFFFFL
            case 8 => bb.getLong(i * 8)
          }
        }
      }

      val frames = mutable.ArrayBuffer[TiffFrame]()
      val seen = mutable.Set[Long]()
      var halt = false
      while (ifdOff != 0L && !halt) try {
        require(seen.add(ifdOff), s"$path: cyclic IFD chain at $ifdOff")
        require(ifdOff + 2 <= len, s"$path: IFD offset $ifdOff beyond EOF")
        val cntB = new Array[Byte](2)
        in.readFully(ifdOff, cntB)
        val n = ByteBuffer.wrap(cntB).order(order).getShort(0) & 0xFFFF
        val body = new Array[Byte](n * 12 + 4)
        in.readFully(ifdOff + 2, body)
        val bodyBuf = ByteBuffer.wrap(body).order(order)
        val tags = mutable.Map[Int, (Int, Long, Array[Byte])]()
        (0 until n).foreach { i =>
          val tag = bodyBuf.getShort(i * 12) & 0xFFFF
          val tpe = bodyBuf.getShort(i * 12 + 2) & 0xFFFF
          val cnt = bodyBuf.getInt(i * 12 + 4).toLong & 0xFFFFFFFFL
          tags(tag) = (tpe, cnt, body.slice(i * 12 + 8, i * 12 + 12))
        }
        def tagVals(tag: Int): Option[Seq[Long]] =
          tags.get(tag).map { case (tpe, cnt, f) => values(tpe, cnt, f) }
        def one(tag: Int, default: => Long): Long =
          tagVals(tag).map(_.head).getOrElse(default)

        val w = one(TagWidth, throw err(path, "missing ImageWidth")).toInt
        val h = one(TagHeight, throw err(path, "missing ImageLength")).toInt
        val bits = one(TagBits, 1L).toInt
        val comp = one(TagCompression, 1L)
        val spp = one(TagSamplesPerPixel, 1L)
        val fmt = one(TagSampleFormat, 1L).toInt
        require(comp == 1, s"$path: compressed TIFF (Compression=$comp) unsupported")
        require(spp == 1, s"$path: SamplesPerPixel=$spp unsupported (grayscale only)")
        val pixel = PixelTypes.getOrElse((fmt, bits),
          throw err(path, s"SampleFormat=$fmt with BitsPerSample=$bits unsupported"))
        val offs = tagVals(TagStripOffsets).getOrElse(throw err(path, "missing StripOffsets"))
        val cnts = tagVals(TagStripByteCounts)
          .getOrElse(throw err(path, "missing StripByteCounts"))
        require(offs.size == cnts.size, s"$path: StripOffsets/StripByteCounts mismatch")
        val expect = w.toLong * h * pixel.bytes
        require(cnts.sum == expect,
          s"$path: strip bytes ${cnts.sum} != ${w}x$h x${pixel.bytes}")
        require(expect <= Int.MaxValue,
          s"$path: TIFF page is $expect bytes (> 2 GiB unsupported)")
        offs.zip(cnts).foreach { case (o, c) =>
          require(o + c <= len, s"$path: strip [$o, ${o + c}) beyond EOF $len")
        }
        frames += TiffFrame(w, h, pixel, little, offs, cnts)
        ifdOff = bodyBuf.getInt(n * 12).toLong & 0xFFFFFFFFL
      } catch {
        // live tail: a page mid-write (or trailing garbage) ends the
        // walk at the last complete page
        case NonFatal(e) => if (lenient) halt = true else throw e
      }
      frames.toSeq
    } finally in.close()
  }

  private def err(path: String, msg: String) =
    new IllegalArgumentException(s"$path: $msg")

  override def index(meta: SpecFileMeta, conf: Configuration): FrameStack =
    ListedStack(walk(meta.path, conf).toVector)

  /** A TIFF appender writes the new page's strips + IFD, then PATCHES
    * the previous last IFD's next-pointer, so (unlike the EDF block
    * tail) there is no append-only resume position: each walk re-walks
    * the whole IFD chain leniently — headers only; a page mid-write
    * (dangling next-pointer, truncated IFD, strip beyond EOF) ends the
    * walk at the last complete page and is retried on the next length
    * change. Streamed rows report the batch's end offset (pages
    * discovered so far) as `n_frames`, like the EDF tail.
    */
  override def tail(path: String, conf: Configuration, prev: FrameStack): FrameStack =
    ListedStack(walk(path, conf, lenient = true).toVector)
}

