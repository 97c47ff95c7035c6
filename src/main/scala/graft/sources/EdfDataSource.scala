package graft.sources

import java.util
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.types._

/** DataSource V2 reader for ESRF Data Format (`.edf`) detector
  * images — the second classic synchrotron CCD container after
  * Princeton SPE (pyspec's `ccd` scope; the EDF layout is the public
  * one every open-source reader implements, e.g. fabio's edfimage):
  *
  *   - a file is a SEQUENCE of blocks, one per image;
  *   - each block starts with an ASCII header: `{`, then
  *     `Key = Value ;` lines, then `}` + newline, space-padded so the
  *     TOTAL header length is a multiple of 512 bytes;
  *   - standard keys: `Dim_1` (width), `Dim_2` (height), `DataType`
  *     (UnsignedByte/SignedByte/(Un)SignedShort/(Un)SignedInteger/
  *     SignedLong/FloatValue/DoubleValue), `ByteOrder`
  *     (LowByteFirst/HighByteFirst), `Size` (data bytes);
  *   - the binary image (`Size` bytes) follows immediately.
  *
  * Planning, pushdown, partitioning and tails are the frame-stack
  * core's ([[FrameScanBuilder]], [[FrameMicroBatchStream]]); the
  * header pass walks block headers only (bounded 512-byte reads + a
  * seek over each data section), yielding per-frame descriptors with
  * exact byte offsets. Option `indexCache` (default true) caches that
  * walk in a `.edfidx` sidecar.
  *
  * Schema (one row per image block, `frame` = 0-based ordinal):
  *   file string, frame long, width int, height int, n_frames long,
  *   datatype string, byte_order string, pixels array<double>
  */
class EdfDataSource extends FrameStackSource {
  override def shortName(): String = "edf"
  override protected def format(options: util.Map[String, String]): StackFormat =
    EdfFormat(Option(options.get("indexCache")).forall(_.toBoolean))
}

object EdfSchema {
  val HeaderChunk = 512
  /** Headers larger than this are rejected as malformed (the spec
    * pads to 512-multiples; real headers are one or two chunks). */
  val MaxHeaderBytes = 64 * 1024
  val SidecarSuffix = ".edfidx"

  val PixelTypes: Map[String, PixelType] = Map(
    "UnsignedByte" -> PixelType.U8, "SignedByte" -> PixelType.I8,
    "UnsignedShort" -> PixelType.U16, "SignedShort" -> PixelType.I16,
    "UnsignedInteger" -> PixelType.U32, "UnsignedLong" -> PixelType.U32,
    "SignedInteger" -> PixelType.I32, "SignedLong" -> PixelType.I32,
    "FloatValue" -> PixelType.F32, "Float" -> PixelType.F32, "DoubleValue" -> PixelType.F64)

  def pixelType(dataType: String): PixelType = PixelTypes.getOrElse(dataType,
    throw new IllegalArgumentException(s"unsupported EDF DataType '$dataType'"))

  /** One image block: `dataType` keeps the header's own spelling,
    * which is what the `datatype` column reports. */
  final case class EdfFrame(dataOffset: Long, width: Int, height: Int,
                            dataType: String, littleEndian: Boolean, size: Long) extends StackFrame {
    override def pixel: PixelType = pixelType(dataType)
    override def dataBytes: Long = size
    override def read(in: FSDataInputStream, buf: Array[Byte]): Unit = in.readFully(dataOffset, buf)
    override def extra(column: String): Any = column match {
      case "datatype" => dataType
      case "byte_order" => if (littleEndian) "LowByteFirst" else "HighByteFirst"
    }
  }

  private val KeyVal = """\s*([A-Za-z0-9_]+)\s*=\s*(.*?)\s*;?\s*""".r

  /** Walk every block header of one file; data sections are seeked
    * over, never read. Returns the per-frame descriptors in file
    * order. Strict: truncation throws with the path in the message.
    */
  def indexFile(path: String, conf: Configuration): Seq[EdfFrame] =
    walk(path, conf, startPos = 0L, lenient = false)

  /** Header walk with a `<file>.edfidx` sidecar cache (see
    * [[IndexSidecar]]), so big multi-block stacks re-read in repeated
    * queries skip the whole header walk. Records, tab-separated:
    *   F\t<dataOffset>\t<width>\t<height>\t<dataType>\t<littleEndian>\t<size>
    */
  def indexWithCache(meta: SpecFileMeta, conf: Configuration, cache: Boolean): Seq[EdfFrame] =
    IndexSidecar.cached(meta, conf, cache, SidecarSuffix, "v2")(indexFile(meta.path, conf))(
      _.map(f => s"F\t${f.dataOffset}\t${f.width}\t${f.height}\t${f.dataType}\t${f.littleEndian}\t${f.size}"),
      _.map { l =>
        val t = l.split('\t')
        require(t(0) == "F")
        EdfFrame(t(1).toLong, t(2).toInt, t(3).toInt, t(4), t(5).toBoolean, t(6).toLong)
      })

  /** Walk of the blocks from byte `startPos`. With `lenient` (live
    * tails), a truncated header or data section (a block mid-write)
    * STOPS the walk instead of throwing and the complete frames so far
    * are returned; the next walk resumes at the end of the last one.
    */
  def walk(path: String, conf: Configuration, startPos: Long,
           lenient: Boolean): Seq[EdfFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val frames = mutable.ArrayBuffer[EdfFrame]()
      var pos = startPos
      var stopped = false
      while (!stopped && pos + HeaderChunk <= len) {
        // accumulate 512-byte chunks until one ends with '}' (+ \n)
        val sb = new java.lang.StringBuilder
        var headerEnd = -1L
        var cur = pos
        while (headerEnd < 0 && !stopped) {
          require(cur - pos < MaxHeaderBytes, s"$path: unterminated EDF header at $pos")
          if (cur + HeaderChunk > len) {
            // header mid-write: wait for the rest (lenient) or fail
            require(lenient, s"$path: truncated EDF header at $pos")
            stopped = true
          } else {
            val chunk = new Array[Byte](HeaderChunk)
            in.readFully(cur, chunk)
            sb.append(new String(chunk, "ISO-8859-1"))
            cur += HeaderChunk
            val t = sb.toString
            val trimmed = t.reverse.dropWhile(c => c == ' ' || c == '\n' || c == '\r').reverse
            if (trimmed.endsWith("}")) headerEnd = cur
          }
        }
        if (!stopped) {
          val text = sb.toString
          require(text.dropWhile(c => c == ' ' || c == '\n').startsWith("{"),
            s"$path: EDF block at $pos does not start with '{'")
          val kv = text.substring(text.indexOf('{') + 1, text.lastIndexOf('}'))
            .split('\n').toSeq
            .collect { case KeyVal(k, v) if v.nonEmpty => k -> v }
            .toMap
          def need(k: String): String = kv.getOrElse(k,
            throw new IllegalArgumentException(s"$path: EDF header at $pos missing $k"))
          val w = need("Dim_1").toInt
          val h = need("Dim_2").toInt
          val dt = need("DataType")
          val bpp = PixelTypes.getOrElse(dt, throw new IllegalArgumentException(
            s"$path: unsupported EDF DataType '$dt' at $pos")).bytes
          val size = kv.get("Size").map(_.toLong).getOrElse(w.toLong * h * bpp)
          val little = kv.getOrElse("ByteOrder", "LowByteFirst") != "HighByteFirst"
          require(w > 0 && h > 0 && size == w.toLong * h * bpp,
            s"$path: inconsistent EDF block at $pos (${w}x$h $dt, Size $size)")
          // the reader allocates one Array[Byte] per data section —
          // fail at index time, not with a corrupt read at scan time
          require(size <= Int.MaxValue,
            s"$path: EDF data section at $pos is $size bytes (> 2 GiB unsupported)")
          if (headerEnd + size > len) {
            // data section mid-write: hold the frame back
            require(lenient, s"$path: truncated EDF data at $headerEnd")
            stopped = true
          } else {
            frames += EdfFrame(headerEnd, w, h, dt, little, size)
            pos = headerEnd + size
          }
        }
      }
      frames.toSeq
    } finally in.close()
  }
}

/** The EDF plug-in of the frame-stack core; `indexCache` is the read
  * option of the same name. */
final case class EdfFormat(indexCache: Boolean) extends StackFormat {
  override val extraColumns: Seq[StructField] = Seq(
    StructField("datatype", StringType),
    StructField("byte_order", StringType))

  override def index(meta: SpecFileMeta, conf: Configuration): FrameStack =
    ListedStack(EdfSchema.indexWithCache(meta, conf, indexCache).toVector)

  /** Incremental: blocks are append-only, so each walk resumes at the
    * end of the last complete block and reads only headers appended
    * since — never old headers, never any data. Streamed rows report
    * the batch's end offset (frames discovered so far) as `n_frames`;
    * only a batch re-read of the finished file reports the total.
    */
  override def tail(path: String, conf: Configuration, prev: FrameStack): FrameStack = {
    val have = prev.asInstanceOf[ListedStack].frames
    val from = have.lastOption.fold(0L) { f =>
      val e = f.asInstanceOf[EdfSchema.EdfFrame]
      e.dataOffset + e.size
    }
    ListedStack(have ++ EdfSchema.walk(path, conf, from, lenient = true))
  }
}

