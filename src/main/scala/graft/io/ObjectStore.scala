package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import scala.collection.mutable.ArrayBuffer

/** Object/file storage utility over the Hadoop `FileSystem` API — the
  * engine-side replacement for the reference's boto3 S3 utility
  * (`src/bears/util/aws/s3.py:1-559`: exists/list/list_subdirs/copy in all
  * four directions/touch/get/put/delete). One code path serves `file:`,
  * `s3a:`, `hdfs:`, … because every Hadoop FS implements the same contract —
  * which is why the reference's 559 lines collapse to this file.
  *
  * Scale discipline: these are driver-side METADATA ops (listing, existence,
  * renames, small-config get/put). The DATA path stays `spark.read`/`write`,
  * which parallelizes scans and writes over executors — never funnel table
  * bytes through these helpers.
  */
object ObjectStore {

  private def fsFor(path: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  /** `s3_object_exists` / `is_path_valid_s3_dir` (s3.py:99-106, 54-56). */
  def exists(path: String, conf: Configuration = new Configuration()): Boolean = {
    val (fs, p) = fsFor(path, conf)
    fs.exists(p)
  }

  /** `get_s3_object_size` (s3.py:132-148). */
  def size(path: String, conf: Configuration = new Configuration()): Long = {
    val (fs, p) = fsFor(path, conf)
    fs.getFileStatus(p).getLen
  }

  /** `list` / `list_recursive_objects_in_dir` (s3.py:150-183): file paths
    * under `dir`, optionally recursive, sorted for determinism.
    */
  def list(dir: String, recursive: Boolean = true,
      conf: Configuration = new Configuration()): Seq[String] = {
    val (fs, p) = fsFor(dir, conf)
    if (!fs.exists(p)) return Seq.empty
    val out = ArrayBuffer.empty[String]
    val it = fs.listFiles(p, recursive)
    while (it.hasNext) out += it.next().getPath.toString
    out.toSeq.sorted
  }

  /** `list_subdirs_in_dir` (s3.py:185-218): immediate child directories. */
  def listSubdirs(dir: String, conf: Configuration = new Configuration()): Seq[String] = {
    val (fs, p) = fsFor(dir, conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.toString).toSeq.sorted
  }

  /** All four reference copy directions (`copy_local_file_to_s3`,
    * `copy_s3_file_to_local`, `copy_file_between_s3_locations`, and the
    * `_dir_` variants, s3.py:328-516) in one call: Hadoop resolves each
    * side's scheme independently and `FileUtil.copy` handles files and
    * directory trees alike.
    */
  def copy(src: String, dst: String, overwrite: Boolean = true,
      conf: Configuration = new Configuration()): Boolean = {
    val (sfs, sp) = fsFor(src, conf)
    val (dfs, dp) = fsFor(dst, conf)
    FileUtil.copy(sfs, sp, dfs, dp, /*deleteSource=*/ false, overwrite, conf)
  }

  def delete(path: String, recursive: Boolean = true,
      conf: Configuration = new Configuration()): Boolean = {
    val (fs, p) = fsFor(path, conf)
    fs.delete(p, recursive)
  }

  /** `touch_s3_object` (s3.py:220-225): zero-byte marker object. */
  def touch(path: String, conf: Configuration = new Configuration()): Unit =
    putString(path, "", conf)

  /** `put_s3_object_str` (s3.py:265-294) — small config/marker payloads. */
  def putString(path: String, content: String,
      conf: Configuration = new Configuration()): Unit = {
    val (fs, p) = fsFor(path, conf)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** `get_s3_object_str` (s3.py:227-233). */
  def getString(path: String, conf: Configuration = new Configuration()): String = {
    val (fs, p) = fsFor(path, conf)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** `construct_path_in_s3_dir` (s3.py:518-546): join parts under a base. */
  def joinPath(base: String, parts: String*): String =
    parts.foldLeft(new Path(base))((p, part) => new Path(p, part)).toString
}
