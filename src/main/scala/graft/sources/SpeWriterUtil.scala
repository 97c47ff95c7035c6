package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Minimal Princeton SPE 2.x writer: emits the 4100-byte header with
  * the public fields the reader (and pyspec's `PrincetonSPEFile`)
  * consumes — dims, datatype, frame count, exposure — followed by the
  * consecutive row-major little-endian frames. Used for fixture
  * generation and for exporting processed frame stacks back into a
  * detector-native container; all other header bytes are zero, which
  * SPE readers treat as absent metadata.
  */
object SpeWriterUtil {

  /** @param frames row-major width·height pixel arrays, one per frame;
    *               values are truncated to `datatype`'s range exactly
    *               like a detector ADC would clamp them.
    */
  def write(path: String, conf: Configuration, width: Int, height: Int,
            datatype: Int, expSec: Double, frames: Seq[Array[Double]]): Unit = {
    val pixel = SpeSchema.PixelTypes.getOrElse(datatype,
      throw new IllegalArgumentException(s"unsupported SPE datatype $datatype"))
    frames.foreach(f => require(f.length == width * height,
      s"frame length ${f.length} != ${width}x$height"))
    val header = ByteBuffer.allocate(SpeSchema.HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
    header.putFloat(10, expSec.toFloat)
    header.putShort(42, width.toShort)
    header.putShort(108, datatype.toShort)
    header.putShort(656, height.toShort)
    header.putInt(1446, frames.size)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      out.write(header.array())
      frames.foreach(f => out.write(pixel.encode(f, littleEndian = true)))
    } finally out.close()
  }
}
