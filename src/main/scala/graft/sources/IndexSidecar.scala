package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Index sidecars (`<file>.specidx`, `<file>.edfidx`): a data file's
  * index persisted next to it, so an unchanged corpus is never
  * re-indexed. Wire format, one record per line:
  *   <tag>\t<version>\t<len>\t<mtime>\t<crc of first+last 4KiB>\t<records>
  *   <record>...
  * where `tag` is the suffix without its dot. A sidecar is used only
  * when every header field matches the data file and the body holds
  * exactly `<records>` complete lines; anything else — an older
  * version, a changed file, a sidecar cut short by a failed write or a
  * killed task — is stale: the file is reindexed and the sidecar
  * overwritten in place. That rewrite is the eviction (one sidecar per
  * data file, so sidecars never accumulate); it is best effort and not
  * atomic, which the record count makes safe. A sidecar orphaned by
  * deleting its data file is inert.
  */
object IndexSidecar {

  /** `build`'s index of `meta`, served from a valid sidecar when
    * `enabled`, else built and (best effort) written. `decode` may
    * throw on a malformed record: the sidecar then counts as stale.
    */
  def cached[T](meta: SpecFileMeta, conf: Configuration, enabled: Boolean,
                suffix: String, version: String)
               (build: => T)(encode: T => Seq[String], decode: Seq[String] => T): T = {
    if (!enabled) return build
    read(meta, conf, suffix, version).flatMap(r => scala.util.Try(decode(r)).toOption).getOrElse {
      val idx = build
      scala.util.Try(write(meta, conf, suffix, version, encode(idx))) // read-only dirs are fine
      idx
    }
  }

  private def read(meta: SpecFileMeta, conf: Configuration, suffix: String,
                   version: String): Option[Seq[String]] = scala.util.Try {
    val p = new Path(meta.path + suffix)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      val lines = text.linesIterator.toVector
      val head = lines.head.split('\t')
      val valid = text.endsWith("\n") && head.length == 6 &&
        head(0) == suffix.drop(1) && head(1) == version &&
        head(2).toLong == meta.len && head(3).toLong == meta.mtime &&
        head(5).toLong == lines.size - 1 && head(4).toLong == fingerprint(meta, conf)
      if (valid) Some(lines.tail) else None
    }
  }.toOption.flatten

  private def write(meta: SpecFileMeta, conf: Configuration, suffix: String,
                    version: String, records: Seq[String]): Unit = {
    val p = new Path(meta.path + suffix)
    val out = p.getFileSystem(conf).create(p, true)
    try {
      val sb = new StringBuilder
      sb.append(s"${suffix.drop(1)}\t$version\t${meta.len}\t${meta.mtime}\t" +
        s"${fingerprint(meta, conf)}\t${records.size}\n")
      records.foreach(r => sb.append(r).append('\n'))
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** CRC32 of the file's first and last 4 KiB. (length, mtime) alone
    * can validate a stale sidecar: a file rewritten to the same length
    * within the filesystem's mtime granularity (1 s on ext4/HDFS) is
    * indistinguishable by metadata. 8 KiB of content is cheap next to
    * the full-scan pass the sidecar avoids, and any header edit, scan
    * renumber, or tail append moves one of the two windows.
    */
  def fingerprint(meta: SpecFileMeta, conf: Configuration): Long = {
    val p = new Path(meta.path)
    val fs = p.getFileSystem(conf)
    val crc = new java.util.zip.CRC32
    val in = fs.open(p)
    try {
      val head = new Array[Byte](math.min(4096L, meta.len).toInt)
      in.readFully(0L, head)
      crc.update(head)
      if (meta.len > 4096) {
        val tailStart = math.max(4096L, meta.len - 4096)
        val tail = new Array[Byte]((meta.len - tailStart).toInt)
        in.readFully(tailStart, tail)
        crc.update(tail)
      }
      crc.getValue
    } finally in.close()
  }
}
