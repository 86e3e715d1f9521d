package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Path resolution for the persisted-index tier (Generations,
  * VectorIndex, BandIndex, TermIndex, ParquetGraphSink, CorpusExport's
  * manifest) through the Hadoop `FileSystem` API — VERDICT r15 item 1:
  * every index component used to address its commit markers, generation
  * listings, and compaction heuristics via `java.io.File`, which made
  * the whole serving story local-FS-only; the data reads/writes were
  * already store-agnostic (`spark.read.parquet`), so the index METADATA
  * was the one thing keeping these artifacts off HDFS/S3 — the exact
  * deployment the §4 scale design argues for. Resolving through
  * `Path.getFileSystem(hadoopConf)` serves local paths through
  * `file://` unchanged (every existing spec runs through this seam) and
  * any `CREDENTIAL-free` Hadoop-compatible store through its registered
  * scheme — HadoopFsIndexSpec drives the full lifecycle of each
  * component over a non-`file:` scheme to prove no `java.io.File`
  * remains on the path.
  *
  * The Hadoop conf comes from the active SparkSession (so
  * `spark.hadoop.*` settings and runtime `hadoopConfiguration` edits
  * apply); a bare `new Configuration()` fallback keeps the helpers
  * usable before any session exists (shutdown hooks, tests tearing
  * down). These are metadata operations — a listing, a marker create,
  * a recursive delete, each at most once per build/append/compact/probe
  * — so per-call conf resolution is noise, not a hot path.
  */
private[graft] object IndexFs {

  def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** (filesystem, path) for `dir` — `file://` for plain local paths,
    * the registered scheme's filesystem otherwise. */
  def resolve(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(hadoopConf), p)
  }

  /** Child statuses of `dir`, empty when it does not exist. */
  def list(dir: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val (fs, p) = resolve(dir)
    if (!fs.exists(p)) Array.empty else fs.listStatus(p)
  }

  def exists(dir: String): Boolean = {
    val (fs, p) = resolve(dir)
    fs.exists(p)
  }

  /** Recursive delete, false when absent. */
  def delete(dir: String): Boolean = {
    val (fs, p) = resolve(dir)
    fs.delete(p, true)
  }

  /** Recursive delete that swallows failures — the reap/teardown
    * convention (a sweep problem must not fail the caller; the next
    * compaction re-reaps). */
  def deleteQuietly(dir: String): Unit =
    try { delete(dir); () }
    catch { case scala.util.control.NonFatal(_) => () }

  /** Create a marker file (parents created as needed). The marker
    * becomes VISIBLE atomically — at create on HDFS/local, at close on
    * object stores — but on HDFS/local its CONTENT lands only at close,
    * so a reader (or a crash) between the two meets an empty or cut-off
    * file. Callers whose readers trust the name alone use this as is;
    * callers whose readers trust the content either end it with a
    * footer the reader checks ([[ServingSnapshot]]) or stage it and
    * [[rename]] it into place. `overwrite = false` keeps replays loud
    * where the caller wants them. */
  def createMarker(file: String, content: String = "",
                   overwrite: Boolean = true): Unit = {
    val (fs, p) = resolve(file)
    val out = fs.create(p, overwrite)
    try { if (content.nonEmpty) out.write(content.getBytes("UTF-8")) }
    finally out.close()
  }

  /** Move `from` to the absent path `to` (parents created as needed),
    * loud when the store refuses. Atomic on HDFS and local disk, so a
    * file staged whole and renamed into place is never seen partial. */
  def rename(from: String, to: String): Unit = {
    val (fs, src) = resolve(from)
    val dst = new Path(to)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"IndexFs.rename: could not move $from to $to")
  }

  /** Read a small metadata file fully (commit records, manifests). */
  def readSmall(file: String): String = {
    val (fs, p) = resolve(file)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Write a small metadata file (overwrite). Visibility is atomic at
    * close; callers needing old-or-new reader semantics use marker
    * FILENAMES (see [[Generations]]), not content swaps. */
  def writeSmall(file: String, content: String): Unit =
    createMarker(file, content, overwrite = true)

  /** All committed parquet data files under `dir`, recursively, as
    * paths RELATIVE to `dir` — the [[ServingSnapshot]] publish step's
    * file census. Committed = named `*.parquet` (Spark's writers land
    * data files whole — rename-at-commit on HDFS/local, PUT-at-close on
    * object stores — so a listed file is a readable file; in-flight
    * work lives under `_temporary`, which this filter skips). Sorted
    * for deterministic manifests. */
  def listParquetRecursive(dir: String): Seq[String] =
    filesRecursive(dir, _.endsWith(".parquet"))

  /** EVERY file under `dir`, recursively, relative + sorted — the
    * [[ServingSnapshot.verify]] existence census: one listing per
    * pinned generation directory answers "which pinned files still
    * exist" as a set-diff in O(directories) filesystem calls, instead
    * of one `exists` RPC per pinned file. No name filter: a pinned
    * file must be found whatever a caller-built leg named it. */
  def listFilesRecursive(dir: String): Seq[String] =
    filesRecursive(dir, _ => true)

  private def filesRecursive(dir: String, keep: String => Boolean): Seq[String] = {
    val (fs, p) = resolve(dir)
    if (!fs.exists(p)) return Seq.empty
    val base = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    val out = Seq.newBuilder[String]
    // hand-rolled recursion over listStatus: FileSystem.listFiles'
    // LocatedFileStatus eagerly loads permissions through java.io.File
    // on RawLocalFileSystem subclasses, which breaks under any
    // non-`file:` scheme — the exact seam this helper exists to serve
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).foreach { st =>
        if (st.isDirectory) {
          if (st.getPath.getName != "_temporary") walk(st.getPath)
        } else {
          val full = st.getPath.toString
          if (keep(full)) out += full.stripPrefix(base)
        }
      }
    walk(p)
    out.result().sorted
  }
}
