package graft.sources

import java.nio.ByteBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Minimal baseline-TIFF writer (public TIFF 6.0 layout): grayscale,
  * uncompressed, multi-page, both byte orders, 8/16/32-bit
  * unsigned/signed integers and 32/64-bit floats. Used for fixture
  * generation and for exporting processed stacks into the most common
  * detector interchange container.
  *
  * Layout: 8-byte header, then all pages' pixel data (each page in
  * `rowsPerStrip`-row strips, consecutive), then the chained IFDs.
  */
object TiffWriterUtil {

  /** @param datatype uint8|uint16|uint32|int8|int16|int32|float32|float64
    * @param rowsPerStrip 0 = one strip per page
    */
  def write(path: String, conf: Configuration, width: Int, height: Int,
            datatype: String, littleEndian: Boolean,
            frames: Seq[Array[Double]], rowsPerStrip: Int = 0): Unit = {
    val ((fmt, _), pixel) = TiffSchema.PixelTypes.find(_._2.name == datatype)
      .getOrElse(throw new IllegalArgumentException(s"unsupported TIFF datatype '$datatype'"))
    val order = PixelType.order(littleEndian)
    val bpp = pixel.bytes
    val bits = bpp * 8
    val pageBytes = width.toLong * height * bpp
    require(pageBytes <= Int.MaxValue, s"TIFF page would be $pageBytes bytes")
    frames.foreach(f => require(f.length == width * height,
      s"frame length ${f.length} != ${width}x$height"))
    val rps = if (rowsPerStrip <= 0) height else math.min(rowsPerStrip, height)
    val stripsPerPage = (height + rps - 1) / rps
    val stripBytes = (0 until stripsPerPage).map { s =>
      val rows = math.min(rps, height - s * rps)
      rows * width * bpp
    }

    // Entry set (sorted by tag, per spec): width, height, bits,
    // compression, photometric, strip offsets, samples/px, rows/strip,
    // strip byte counts, sample format. Multi-strip offset/count
    // arrays go out-of-line right after the IFD block.
    val nEntries = 10
    val ifdBytes = 2 + nEntries * 12 + 4
    val outOfLine = if (stripsPerPage > 1) 2 * 4 * stripsPerPage else 0
    val perIfd = ifdBytes + outOfLine
    val dataStart = 8L
    val ifdStart = dataStart + pageBytes * frames.size

    def ifd(page: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(perIfd).order(order)
      val myStart = ifdStart + page.toLong * perIfd
      val extraAt = myStart + ifdBytes
      val pageOff = dataStart + page.toLong * pageBytes
      bb.putShort(nEntries.toShort)
      def entry(tag: Int, tpe: Int, count: Int, value: Long): Unit = {
        bb.putShort(tag.toShort); bb.putShort(tpe.toShort); bb.putInt(count)
        // inline values are LEFT-justified in the 4-byte field
        if (tpe == 3 && count == 1) { bb.putShort(value.toShort); bb.putShort(0) }
        else bb.putInt(value.toInt)
      }
      entry(256, 4, 1, width) // ImageWidth
      entry(257, 4, 1, height) // ImageLength
      entry(258, 3, 1, bits) // BitsPerSample
      entry(259, 3, 1, 1) // Compression = none
      entry(262, 3, 1, 1) // Photometric = BlackIsZero
      if (stripsPerPage == 1) entry(273, 4, 1, pageOff)
      else entry(273, 4, stripsPerPage, extraAt)
      entry(277, 3, 1, 1) // SamplesPerPixel
      entry(278, 4, 1, rps) // RowsPerStrip
      if (stripsPerPage == 1) entry(279, 4, 1, pageBytes)
      else entry(279, 4, stripsPerPage, extraAt + 4L * stripsPerPage)
      entry(339, 3, 1, fmt) // SampleFormat
      val next = if (page == frames.size - 1) 0L else myStart + perIfd
      bb.putInt(next.toInt)
      if (stripsPerPage > 1) {
        var off = pageOff
        stripBytes.foreach { sb => bb.putInt(off.toInt); off += sb }
        stripBytes.foreach(sb => bb.putInt(sb))
      }
      bb.array()
    }

    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try {
      val head = ByteBuffer.allocate(8).order(order)
      head.put((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
      head.putShort(42)
      head.putInt(ifdStart.toInt)
      out.write(head.array())
      frames.foreach(f => out.write(pixel.encode(f, littleEndian)))
      frames.indices.foreach(i => out.write(ifd(i)))
    } finally out.close()
  }
}
