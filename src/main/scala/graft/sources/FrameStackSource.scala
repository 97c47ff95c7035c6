package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util
import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Pixel sample type of a detector frame. Every type is exactly
  * representable in double, which is what `pixels` holds; `name` is
  * the SPE/TIFF spelling of the `datatype` column.
  */
sealed abstract class PixelType(val name: String, val bytes: Int) extends Serializable {

  /** The first `n` samples of `buf`, widened to double. */
  def decode(buf: Array[Byte], littleEndian: Boolean, n: Int): Array[Double] = {
    val bb = ByteBuffer.wrap(buf).order(PixelType.order(littleEndian))
    val out = new Array[Double](n)
    var i = 0
    this match {
      case PixelType.U8 => while (i < n) { out(i) = (buf(i) & 0xFF).toDouble; i += 1 }
      case PixelType.I8 => while (i < n) { out(i) = buf(i).toDouble; i += 1 }
      case PixelType.U16 => val s = bb.asShortBuffer; while (i < n) { out(i) = (s.get(i) & 0xFFFF).toDouble; i += 1 }
      case PixelType.I16 => val s = bb.asShortBuffer; while (i < n) { out(i) = s.get(i).toDouble; i += 1 }
      case PixelType.U32 => val s = bb.asIntBuffer; while (i < n) { out(i) = (s.get(i) & 0xFFFFFFFFL).toDouble; i += 1 }
      case PixelType.I32 => val s = bb.asIntBuffer; while (i < n) { out(i) = s.get(i).toDouble; i += 1 }
      case PixelType.F32 => val s = bb.asFloatBuffer; while (i < n) { out(i) = s.get(i).toDouble; i += 1 }
      case PixelType.F64 => val s = bb.asDoubleBuffer; while (i < n) { out(i) = s.get(i); i += 1 }
    }
    out
  }

  /** The writers' inverse of [[decode]]: values are truncated to the
    * type exactly like a detector ADC would clamp them. */
  def encode(frame: Array[Double], littleEndian: Boolean): Array[Byte] = {
    val bb = ByteBuffer.allocate(frame.length * bytes).order(PixelType.order(littleEndian))
    this match {
      case PixelType.U8 => frame.foreach(v => bb.put((v.toLong & 0xFF).toByte))
      case PixelType.I8 => frame.foreach(v => bb.put(v.toByte))
      case PixelType.U16 => frame.foreach(v => bb.putShort((v.toLong & 0xFFFF).toShort))
      case PixelType.I16 => frame.foreach(v => bb.putShort(v.toShort))
      case PixelType.U32 => frame.foreach(v => bb.putInt((v.toLong & 0xFFFFFFFFL).toInt))
      case PixelType.I32 => frame.foreach(v => bb.putInt(v.toInt))
      case PixelType.F32 => frame.foreach(v => bb.putFloat(v.toFloat))
      case PixelType.F64 => frame.foreach(v => bb.putDouble(v))
    }
    bb.array()
  }
}

object PixelType {
  case object U8 extends PixelType("uint8", 1)
  case object I8 extends PixelType("int8", 1)
  case object U16 extends PixelType("uint16", 2)
  case object I16 extends PixelType("int16", 2)
  case object U32 extends PixelType("uint32", 4)
  case object I32 extends PixelType("int32", 4)
  case object F32 extends PixelType("float32", 4)
  case object F64 extends PixelType("float64", 8)

  def order(littleEndian: Boolean): ByteOrder =
    if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
}

/** One frame as its format's header walk describes it: geometry,
  * pixel layout, where its data bytes are, and the format's own
  * metadata columns.
  */
trait StackFrame extends Serializable {
  def width: Int
  def height: Int
  def pixel: PixelType
  def littleEndian: Boolean
  def dataBytes: Long
  /** Reads the whole data section (`dataBytes` long) into `buf`. */
  def read(in: FSDataInputStream, buf: Array[Byte]): Unit
  /** Value of one of the format's extra columns. */
  def extra(column: String): Any
}

/** The frames a header walk found in one file, in frame order. Batch
  * and tail planning slice it into the partitions' contiguous runs.
  */
abstract class FrameStack extends Serializable {
  def size: Int
  def frame(i: Int): StackFrame
  def frameBytes(i: Int): Long = frame(i).dataBytes
  def slice(from: Int, until: Int): FrameStack
  /** `n_frames` of the rows read when `known` frames are planned. */
  def nFrames(known: Long): Long = known
}

/** A stack of per-frame descriptors (formats whose frames each carry
  * their own header and offsets). */
final case class ListedStack(frames: Vector[StackFrame]) extends FrameStack {
  override def size: Int = frames.size
  override def frame(i: Int): StackFrame = frames(i)
  override def slice(from: Int, until: Int): FrameStack = ListedStack(frames.slice(from, until))
}

/** What a detector format plugs into the frame-stack core: its header
  * walk and its own metadata columns. Everything else — planning,
  * pushdown, partitioning, decoding, live tails — is the core's.
  */
abstract class StackFormat extends Serializable {
  /** The format's own columns, between `n_frames` and `pixels`. */
  def extraColumns: Seq[StructField]
  /** Strict walk of a complete file for batch reads: a truncated or
    * malformed file fails here with its path in the message. */
  def index(meta: SpecFileMeta, conf: Configuration): FrameStack
  /** Lenient walk of a live file: the frames complete on disk. `prev`
    * is this stream's last walk of the same file (or empty). */
  def tail(path: String, conf: Configuration, prev: FrameStack): FrameStack

  lazy val schema: StructType = StructType(
    Seq(StructField("file", StringType),
      StructField("frame", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", LongType)) ++
      extraColumns :+ StructField("pixels", ArrayType(DoubleType)))
}

object FrameStack {
  /** Files-per-read above which header walks run as a Spark job (one
    * task per file) instead of inline on the driver. */
  val ParallelHeaderThreshold = 16
  val empty: FrameStack = ListedStack(Vector.empty)

  /** `f` over every file, in order: inline on the driver for up to
    * `threshold` files, otherwise one Spark job with one task per
    * file, so a large corpus never serializes its header reads
    * through the driver. `f` must not capture anything unserializable.
    */
  def perFile[T: ClassTag](files: Seq[SpecFileMeta], conf: Configuration, threshold: Int)
                          (f: (SpecFileMeta, Configuration) => T): Seq[T] =
    if (files.size <= threshold) files.map(f(_, conf))
    else {
      val sconf = new SerializableHadoopConf(conf)
      SparkSession.active.sparkContext.parallelize(files, files.size)
        .map(m => f(m, sconf.value)).collect().toSeq
    }

  /** The partitions of a read over `(path, stack, inclusive frame
    * runs, n_frames)` per file: each run cut into contiguous pieces of
    * at most `maxBytes` data bytes (at least one frame each), so a
    * million-frame ROI file doesn't explode into a million tasks while
    * full-chip frames still get one or few frames per task. Without
    * `maxBytes` the cap is Spark's split size for the read's wanted
    * bytes ([[FileSplits.maxSplitBytes]]), the rule of the SPEC source.
    */
  def plan(files: Seq[(String, FrameStack, Seq[(Int, Int)], Long)],
           maxBytes: Option[Long]): Array[InputPartition] = {
    val runs = for ((path, stack, rs, nFrames) <- files; (first, last) <- rs)
      yield (path, stack, nFrames, first, Array.tabulate(last - first + 1)(i => stack.frameBytes(first + i)))
    val cap = maxBytes.getOrElse(
      FileSplits.maxSplitBytes(SparkSession.active, runs.iterator.map(_._5.sum).sum))
    (for ((path, stack, nFrames, first, sizes) <- runs; (a, b) <- FileSplits.runs(sizes, cap))
      yield FramePartition(path, first + a, nFrames, stack.slice(first + a, first + b))).toArray
  }
}

/** Base provider of the SPE, EDF and TIFF sources. Options: `path` or
  * `paths`, and `maxPartitionBytes` (default: Spark's split size for
  * the read, see [[FrameStack.plan]]); a format reads its own extra
  * options in [[format]].
  */
abstract class FrameStackSource extends TableProvider with DataSourceRegister {
  protected def format(options: util.Map[String, String]): StackFormat

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = format(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val paths = Option(properties.get("paths"))
      .map(p => SpecSchema.parseJsonPaths(p))
      .orElse(Option(properties.get("path")).map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException(s"${shortName()} reader needs a path"))
    new FrameStackTable(shortName(), format(properties), paths,
      Option(properties.get("maxPartitionBytes")).map(_.toLong))
  }
}

class FrameStackTable(source: String, format: StackFormat, paths: Seq[String],
                      maxPartBytes: Option[Long]) extends Table with SupportsRead {
  override def name(): String = s"$source(${paths.mkString(",")})"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FrameScanBuilder(format, paths, maxPartBytes)
}

/** Planning for every frame-stack source. The header pass reads only
  * headers (never a data byte); equality/range/IN filters on `frame`
  * drop whole partitions before any data read; a projection without
  * `pixels` never opens a data file; ungrouped COUNT(*) / MIN / MAX
  * (frame) are answered from the header pass alone.
  */
class FrameScanBuilder(format: StackFormat, paths: Seq[String], maxPartBytes: Option[Long])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = format.schema
  private var frameEq: Option[Set[Long]] = None
  private var frameLo: Long = Long.MinValue
  private var frameHi: Long = Long.MaxValue
  private var aggTags: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Only integral literals translate to frame bounds. Anything else
    // (a null inside In(...), a non-numeric value) is NOT accepted —
    // it stays in the returned residual and Spark evaluates it
    // post-scan, instead of crashing planning on a cast.
    def asLOpt(v: Any): Option[Long] = v match {
      case l: Long => Some(l); case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
      case _ => None
    }
    def asL(v: Any): Long = asLOpt(v).get
    val (accepted, rest) = filters.partition {
      case EqualTo("frame", v) => asLOpt(v).isDefined
      case In("frame", vs) => vs != null && vs.forall(asLOpt(_).isDefined)
      case GreaterThan("frame", v) => asLOpt(v).isDefined
      case GreaterThanOrEqual("frame", v) => asLOpt(v).isDefined
      case LessThan("frame", v) => asLOpt(v).isDefined
      case LessThanOrEqual("frame", v) => asLOpt(v).isDefined
      // frame is non-null by construction: accepting the inferred
      // IsNotNull keeps it out of the residual (a residual blocks
      // aggregate pushdown and costs a per-row filter for nothing)
      case IsNotNull("frame") => true
      case _ => false
    }
    def narrow(s: Set[Long]): Unit =
      frameEq = Some(frameEq.map(_.intersect(s)).getOrElse(s))
    accepted.foreach {
      case EqualTo("frame", v) => narrow(Set(asL(v)))
      case In("frame", vs) => narrow(vs.map(asL).toSet)
      case GreaterThan("frame", v) => frameLo = math.max(frameLo, asL(v) + 1)
      case GreaterThanOrEqual("frame", v) => frameLo = math.max(frameLo, asL(v))
      case LessThan("frame", v) => frameHi = math.min(frameHi, asL(v) - 1)
      case LessThanOrEqual("frame", v) => frameHi = math.min(frameHi, asL(v))
      case _ => ()
    }
    pushed = accepted
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggTags = IndexAggScan.tags(agg, "frame")
    aggTags.isDefined
  }

  /** The pushed frame filter over a stack of `n` frames, as inclusive
    * runs of contiguous wanted frames. */
  private def wantedRuns(n: Int): Seq[(Int, Int)] = {
    val lo = math.max(frameLo, 0L)
    val hi = math.min(frameHi, n - 1L)
    frameEq match {
      case None => if (lo <= hi) Seq((lo.toInt, hi.toInt)) else Nil
      case Some(eq) =>
        eq.filter(f => f >= lo && f <= hi).toSeq.sorted.map(_.toInt)
          .foldLeft(List.empty[(Int, Int)]) {
            case ((a, b) :: done, f) if f == b + 1 => (a, f) :: done
            case (done, f) => (f, f) :: done
          }.reverse
    }
  }

  /** The header pass shared by the row scan and the aggregate scan:
    * per file, its stack and the wanted frame runs. */
  private def planned(): Seq[(String, FrameStack, Seq[(Int, Int)])] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = SpecSchema.expand(paths, conf)
    val fmt = format // the task closure must not capture this builder
    val stacks = FrameStack.perFile(files, conf, FrameStack.ParallelHeaderThreshold)(fmt.index)
    files.zip(stacks).map { case (meta, stack) => (meta.path, stack, wantedRuns(stack.size)) }
  }

  override def build(): Scan = aggTags match {
    case Some(tags) => new IndexAggScan(tags, () =>
      planned().flatMap(_._3.map { case (a, b) => (a.toLong, b.toLong, b - a + 1L) }))
    case None => new Scan with Batch {
      override def readSchema(): StructType = required
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        FrameStack.plan(planned().map { case (path, stack, runs) =>
          (path, stack, runs, stack.nFrames(stack.size))
        }, maxPartBytes)
      override def createReaderFactory(): PartitionReaderFactory =
        new FrameReaderFactory(new SerializableHadoopConf(
          SparkSession.active.sessionState.newHadoopConf()), required.fieldNames)
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FrameMicroBatchStream(format, paths,
          new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
          required.fieldNames, maxPartBytes)
    }
  }
}

/** Structured-Streaming source over LIVE stacks — watch an acquisition
  * as frames append. The per-file offset is the number of frames
  * complete on disk, as the format's lenient [[StackFormat.tail]] walk
  * counts them; a frame still being written is below the floor and
  * waits. A file whose length is unchanged since its last walk is not
  * walked again, so an idle stream costs one listStatus per trigger.
  * A walk that fails keeps the file's previous frames and is retried
  * when the length changes. New files under the path are picked up
  * automatically; partitions and readers are the batch ones.
  * Append-only assumption: a file rewritten mid-stream needs a
  * restarted query. Driver memory is O(frames tracked) over the
  * stream's lifetime; point long-running streams at the live
  * directory, not an ever-growing archive.
  */
class FrameMicroBatchStream(format: StackFormat, paths: Seq[String], conf: SerializableHadoopConf,
                            columns: Array[String], maxPartBytes: Option[Long])
    extends MicroBatchStream {
  // path -> (frames at the last walk, file length then)
  private val cache = mutable.Map[String, (FrameStack, Long)]()

  private def refresh(path: String, len: Long): FrameStack = cache.get(path) match {
    case Some((stack, lastLen)) if lastLen == len => stack
    case prev =>
      val last = prev.fold(FrameStack.empty)(_._1)
      val stack =
        try format.tail(path, conf.value, last)
        catch { case NonFatal(_) => last }
      cache(path) = (stack, len)
      stack
  }

  override def initialOffset(): Offset = SpecStreamOffset(Map.empty)
  override def deserializeOffset(json: String): Offset = SpecStreamOffset.fromJson(json)

  override def latestOffset(): Offset = SpecStreamOffset(SpecSchema.expand(paths, conf.value)
    .map(m => m.path -> refresh(m.path, m.len).size.toLong).toMap)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SpecStreamOffset].files
    val e = end.asInstanceOf[SpecStreamOffset].files
    FrameStack.plan(e.toSeq.sortBy(_._1).flatMap { case (path, to) =>
      val from = s.getOrElse(path, 0L)
      // normally latestOffset just refreshed; after a checkpoint
      // restart the cache is cold and the walk reruns here
      val stack = cache.get(path).map(_._1).filter(_.size >= to).getOrElse {
        val p = new Path(path)
        refresh(path, p.getFileSystem(conf.value).getFileStatus(p).getLen)
      }
      val last = math.min(to, stack.size.toLong) - 1
      // `n_frames` comes from the batch's END offset, not the cache's
      // current count, so a checkpoint-recovered batch reports the
      // same value it first did
      if (last < from) None
      else Some((path, stack, Seq((from.toInt, last.toInt)), stack.nFrames(to)))
    }, maxPartBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory = new FrameReaderFactory(conf, columns)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Frames [frameStart, frameStart + frames.size) of one file. */
final case class FramePartition(path: String, frameStart: Long, nFrames: Long,
                                frames: FrameStack) extends InputPartition

class FrameReaderFactory(conf: SerializableHadoopConf,
                         columns: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FrameReader(partition.asInstanceOf[FramePartition], conf.value, columns)
}

/** Reads one partition's frames: one bounded read per frame at the
  * offsets the header walk planned. With `pixels` pruned the file is
  * never opened — rows come from the planned descriptors alone.
  */
class FrameReader(part: FramePartition, conf: Configuration,
                  columns: Array[String]) extends PartitionReader[InternalRow] {
  private val needPixels = columns.contains("pixels")
  private val fileUtf8 = UTF8String.fromString(part.path)
  private val in = if (needPixels) {
    val p = new Path(part.path)
    p.getFileSystem(conf).open(p)
  } else null
  private var i = -1
  private var fr: StackFrame = _
  private var buf = Array.emptyByteArray
  private var pixels: GenericArrayData = _

  override def next(): Boolean = {
    i += 1
    val more = i < part.frames.size
    if (more) {
      fr = part.frames.frame(i)
      // decode in next(), not get(): each frame is read exactly once
      // however often Spark materializes the row
      if (needPixels) {
        if (buf.length != fr.dataBytes) buf = new Array[Byte](fr.dataBytes.toInt)
        fr.read(in, buf)
        pixels = new GenericArrayData(fr.pixel.decode(buf, fr.littleEndian, fr.width * fr.height))
      }
    }
    more
  }

  override def get(): InternalRow = InternalRow.fromSeq(columns.toSeq.map {
    case "file" => fileUtf8
    case "frame" => part.frameStart + i
    case "width" => fr.width
    case "height" => fr.height
    case "n_frames" => part.nFrames
    case "pixels" => pixels
    case c => fr.extra(c) match {
      case s: String => UTF8String.fromString(s)
      case v => v
    }
  })

  override def close(): Unit = if (in != null) in.close()
}

/** Index-only aggregate scan shared by the spec, SPE, EDF and TIFF
  * sources: one partial row computed from the planning index alone, so
  * a census never reads a data byte. Each index entry is (first key,
  * last key, rows): COUNT(*) sums the rows, MIN/MAX take the keys.
  * Spark's final merge (sum/min/max over one row) keeps union and
  * multi-scan plans correct.
  */
class IndexAggScan(tags: Seq[String], entries: () => Seq[(Long, Long, Long)])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(tags.map(t => StructField(s"agg_$t", LongType, nullable = t != "count")))
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val es = entries()
    val values: Array[Any] = tags.map { t =>
      if (t == "count") es.map(_._3).sum
      else if (es.isEmpty) null
      else if (t.startsWith("min_")) es.map(_._1).min
      else es.map(_._2).max
    }.toArray
    Array(IndexAggPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val row = InternalRow.fromSeq(p.asInstanceOf[IndexAggPartition].values.toSeq)
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

final case class IndexAggPartition(values: Array[Any]) extends InputPartition

object IndexAggScan {
  /** Tags (`count`, `min_<key>`, `max_<key>`) of an ungrouped
    * COUNT(*) / MIN(key) / MAX(key) aggregation, or None when any part
    * cannot be answered from the index. */
  def tags(agg: Aggregation, key: String): Option[Seq[String]] =
    if (agg.groupByExpressions.nonEmpty) None
    else {
      val tags = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some("count")
        case m: Min if m.column.describe() == key => Some(s"min_$key")
        case m: Max if m.column.describe() == key => Some(s"max_$key")
        case _ => None
      }
      if (tags.forall(_.isDefined)) Some(tags.flatten) else None
    }
}
