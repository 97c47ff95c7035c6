package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.types._

/** DataSource V2 reader for Princeton Instruments WinView/WinSpec
  * `.SPE` CCD image files — the detector-file capability of the
  * reference's `ccd` package (pyspec `ccd/PrincetonSPE.py`
  * `PrincetonSPEFile`: fixed 4100-byte binary header + consecutive
  * row-major frames). The layout encoded here is the public SPE 2.x
  * header (same offsets every open-source reader uses):
  *
  *   offset   10  float32  exposure seconds
  *   offset   42  uint16   xdim (frame width)
  *   offset  108  int16    datatype (0 f32, 1 i32, 2 i16, 3 u16,
  *                         5 f64, 6 u8, 8 u32)
  *   offset  656  uint16   ydim (frame height)
  *   offset 1446  int32    NumFrames
  *   offset 4100  data     frames consecutive, row-major,
  *                         little-endian
  *
  * Planning, pushdown, partitioning and tails are the frame-stack
  * core's ([[FrameScanBuilder]], [[FrameMicroBatchStream]]); the
  * header pass is ONE bounded 4100-byte pread per file, and since
  * every frame has the same size a partition is a frame range plus
  * the header, never a list of per-frame descriptors.
  *
  * Schema (one row per frame):
  *   file string, frame long, width int, height int, n_frames long,
  *   exp_sec double, datatype string, pixels array<double>
  */
class SpeDataSource extends FrameStackSource {
  override def shortName(): String = "spe"
  override protected def format(options: util.Map[String, String]): StackFormat = SpeSchema
}

object SpeSchema extends StackFormat {
  val HeaderBytes = 4100
  val ParallelHeaderThreshold: Int = FrameStack.ParallelHeaderThreshold

  override val extraColumns: Seq[StructField] = Seq(
    StructField("exp_sec", DoubleType),
    StructField("datatype", StringType))

  /** The header's datatype codes. */
  val PixelTypes: Map[Int, PixelType] = Map(0 -> PixelType.F32, 1 -> PixelType.I32,
    2 -> PixelType.I16, 3 -> PixelType.U16, 5 -> PixelType.F64, 6 -> PixelType.U8,
    8 -> PixelType.U32)

  final case class SpeHeader(width: Int, height: Int, pixel: PixelType,
                             nFrames: Int, expSec: Double) {
    def frameBytes: Long = width.toLong * height * pixel.bytes
  }

  /** One bounded positional read of the 4100-byte header; the data
    * section is never touched at planning time. With `strict` (batch
    * reads), truncated or inconsistent files fail here with the path
    * in the message instead of surfacing as a garbled frame later;
    * the tail passes `strict = false` because a LIVE file
    * legitimately holds fewer frames than the header's planned
    * `NumFrames` while acquiring.
    */
  def readHeader(path: String, conf: Configuration, strict: Boolean = true): SpeHeader = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len >= HeaderBytes, s"$path: not an SPE file (len $len < header $HeaderBytes)")
    val head = new Array[Byte](HeaderBytes)
    val in = fs.open(p)
    try in.readFully(0L, head) finally in.close()
    val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val datatype = bb.getShort(108).toInt
    val h = SpeHeader(
      width = bb.getShort(42) & 0xFFFF,
      height = bb.getShort(656) & 0xFFFF,
      pixel = PixelTypes.getOrElse(datatype,
        throw new IllegalArgumentException(s"$path: unsupported SPE datatype $datatype")),
      nFrames = bb.getInt(1446),
      expSec = bb.getFloat(10).toDouble)
    require(h.width > 0 && h.height > 0 && h.nFrames >= 0,
      s"$path: implausible SPE dims ${h.width}x${h.height}x${h.nFrames}")
    require(!strict || len >= HeaderBytes + h.nFrames * h.frameBytes,
      s"$path: truncated SPE data section (need ${h.nFrames} frames of ${h.frameBytes} B)")
    h
  }

  override def index(meta: SpecFileMeta, conf: Configuration): FrameStack = {
    val h = readHeader(meta.path, conf)
    SpeStack(h, 0, h.nFrames)
  }

  /** Acquisition software writes the header first (`NumFrames` may
    * hold the final planned count from the start), then appends
    * frames, so the complete frames on disk are
    * `(len − 4100) div frameBytes` — a partially-written trailing
    * frame waits for its remaining bytes. A positive `NumFrames` caps
    * the count, so trailing garbage (e.g. a footer) never yields
    * phantom frames. The header is read once per file and kept for
    * the stream's lifetime; streamed rows report its `NumFrames` as
    * `n_frames`, like batch reads do.
    */
  override def tail(path: String, conf: Configuration, prev: FrameStack): FrameStack = {
    val h = prev match {
      case s: SpeStack => s.header
      case _ => readHeader(path, conf, strict = false)
    }
    val p = new Path(path)
    val onDisk = (p.getFileSystem(conf).getFileStatus(p).getLen - HeaderBytes) / h.frameBytes
    SpeStack(h, 0, (if (h.nFrames > 0) math.min(onDisk, h.nFrames.toLong) else onDisk).toInt)
  }
}

/** Frames [first, first + size) of an SPE file: all are described by
  * the header alone. */
final case class SpeStack(header: SpeSchema.SpeHeader, first: Int, size: Int) extends FrameStack {
  override def frame(i: Int): StackFrame = SpeFrame(header, first + i)
  override def frameBytes(i: Int): Long = header.frameBytes
  override def slice(from: Int, until: Int): FrameStack = SpeStack(header, first + from, until - from)
  override def nFrames(known: Long): Long = header.nFrames
}

final case class SpeFrame(header: SpeSchema.SpeHeader, index: Int) extends StackFrame {
  override def width: Int = header.width
  override def height: Int = header.height
  override def pixel: PixelType = header.pixel
  override def littleEndian: Boolean = true
  override def dataBytes: Long = header.frameBytes
  override def read(in: FSDataInputStream, buf: Array[Byte]): Unit =
    in.readFully(SpeSchema.HeaderBytes + index * header.frameBytes, buf)
  override def extra(column: String): Any = column match {
    case "exp_sec" => header.expSec
    case "datatype" => pixel.name
  }
}
