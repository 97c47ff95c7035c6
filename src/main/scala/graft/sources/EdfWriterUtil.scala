package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Minimal ESRF Data Format writer: one `{ Key = Value ; }` ASCII
  * header per image, space-padded to a 512-byte multiple, followed by
  * the raw pixels — the public EDF block layout. Used for fixture
  * generation and for exporting processed stacks into the
  * detector-native container.
  */
object EdfWriterUtil {

  /** The full byte block (padded header + data) of one frame —
    * public so live-acquisition tests can APPEND blocks to a growing
    * file exactly as detector software does.
    */
  def blockBytes(width: Int, height: Int, dataType: String,
                 littleEndian: Boolean, frame: Array[Double],
                 imageIdx: Int): Array[Byte] = {
    val pixel = EdfSchema.pixelType(dataType)
    val size = width.toLong * height * pixel.bytes
    require(frame.length == width * height,
      s"frame length ${frame.length} != ${width}x$height")
    require(size <= Int.MaxValue,
      s"EDF data section would be $size bytes (> 2 GiB unsupported)")
    val body = new StringBuilder
    body.append("{\n")
    body.append(f"HeaderID = EH:${imageIdx + 1}%06d:000000:000000 ;\n")
    body.append(s"Image = ${imageIdx + 1} ;\n")
    body.append(s"ByteOrder = ${if (littleEndian) "LowByteFirst" else "HighByteFirst"} ;\n")
    body.append(s"DataType = $dataType ;\n")
    body.append(s"Dim_1 = $width ;\n")
    body.append(s"Dim_2 = $height ;\n")
    body.append(s"Size = $size ;\n")
    // pad so that (header incl. closing "}\n") % 512 == 0
    val tail = "}\n"
    val pad = EdfSchema.HeaderChunk -
      ((body.length + tail.length) % EdfSchema.HeaderChunk)
    if (pad != EdfSchema.HeaderChunk) body.append(" " * pad)
    body.append(tail)
    val header = body.toString.getBytes("ISO-8859-1")
    header ++ pixel.encode(frame, littleEndian)
  }

  /** Write one block per frame. `dataType` uses the EDF names
    * (UnsignedShort, FloatValue, ...); values are clamped/truncated
    * to the type exactly like a detector pipeline would.
    */
  def write(path: String, conf: Configuration, width: Int, height: Int,
            dataType: String, littleEndian: Boolean,
            frames: Seq[Array[Double]]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try frames.zipWithIndex.foreach { case (f, idx) =>
      out.write(blockBytes(width, height, dataType, littleEndian, f, idx))
    } finally out.close()
  }
}
