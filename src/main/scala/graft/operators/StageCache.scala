package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-invocation staging cache (r17 — VERDICT r16 item 2b): the
  * session-staged artifacts ([[SessionStaged]] — graph frames, dedup
  * features, blocking assignments, the persisted BM25/IVF indexes)
  * are deterministic functions of (dataset, code), yet every JVM
  * rebuilt them from the corpus: the driver's Verify and Bench runs —
  * and any back-to-back bench pair — each paid the full staging tier
  * again, and that rebuild was exactly where sandbox contention
  * poisoned two consecutive rounds' artifacts of record (401 s logged
  * for a 27 s quiet build, r16). This cache persists each staged
  * artifact as parquet under a key that names its exact inputs, so a
  * second invocation on the same machine REUSES instead of rebuilding
  * and the contention surface shrinks to the queries themselves.
  *
  * KEYING — `(tier, tierVersion, datasetFingerprint, codeFingerprint)`:
  *
  *  - `datasetFingerprint`: md5 over every file's (relative path,
  *    size, mtime) under the dataset dir — the Bench artifact's
  *    `testdata_fingerprint` definition, now shared from here, so a
  *    driver-side testdata regeneration invalidates the cache the same
  *    instant it renames itself in the bench line.
  *  - `codeFingerprint`: the same walk over the compiled-classes
  *    directory this class loaded from. Any recompile — ANY code
  *    change — invalidates every entry, which makes staleness
  *    impossible by construction instead of by remembering to bump a
  *    constant: the cache can only ever serve an artifact the exact
  *    current code would rebuild bit-identically (builders are
  *    deterministic, spec-pinned per tier). Loaded from a jar, the
  *    jar's (size, mtime) stands in; unresolvable → caching disabled.
  *  - `tierVersion`: a per-call-site escape hatch for semantic changes
  *    that don't change this repo's classes (e.g. an external-input
  *    format shift).
  *
  * ATOMICITY — build into `<key>.tmp-<nonce>`, then ATOMIC_MOVE to
  * `<key>`: concurrent JVMs (a Verify and a Bench racing in one
  * sandbox) either both build (one move wins, the loser deletes its
  * tmp and reads the winner's) or the second finds the completed key.
  * A crash mid-build strands only a tmp dir, never a half-valid key;
  * stale tmp dirs and old-fingerprint entries for the same tier are
  * swept opportunistically on the next miss.
  *
  * SCOPE — local-disk cache for single-machine gate/bench runs
  * (java.io/nio deliberately, not [[IndexFs]]: this is JVM-adjacent
  * scratch like the SessionStaged temp dirs, not a serving artifact).
  * Root: `GRAFT_STAGE_CACHE` env or `graft.stage.cache` sysprop
  * (tests); `off` disables; default `<java.io.tmpdir>/graft_stage_cache`.
  * At 100 TB the same role is played by the maintained-beside-the-
  * corpus artifacts themselves — this cache is the single-node stand-in
  * that keeps repeated local runs from re-deriving them.
  */
object StageCache {

  /** Cache root; None = caching disabled. OPT-IN: nothing is cached
    * unless the `GRAFT_STAGE_CACHE` env / `graft.stage.cache` sysprop
    * names a root or an entry point called [[enableDefault]] — every
    * main does (through [[graft.GraftSession]]), the shared TEST JVM does
    * not (suites run in parallel and must not observe, or race on,
    * each other's cache roots; StageCacheSpec passes an explicit root
    * through the package-private overloads instead). */
  private[graft] def rootOpt: Option[String] = {
    val conf = sys.props.get("graft.stage.cache")
      .orElse(sys.env.get("GRAFT_STAGE_CACHE"))
      .getOrElse(if (defaultOn) defaultRoot else "off")
    if (conf.isEmpty || conf.equalsIgnoreCase("off")) None
    else if (codeFingerprint.isEmpty) None
    else Some(conf)
  }

  private def defaultRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_stage_cache"

  @volatile private var defaultOn = false

  /** Turn the default cache root on for this JVM — called by the gate
    * mains; explicit env/sysprop settings still win either way. */
  def enableDefault(): Unit = { defaultOn = true }

  /** True iff `p` lives under the active cache root — the staged-dir
    * teardown seam: SessionStaged teardowns delete their scratch TEMP
    * dirs but must leave cache entries in place (longevity is the
    * point; the sweep-on-miss reclaims them when the key rotates). */
  private[graft] def isCachePath(p: String): Boolean =
    isCachePathIn(rootOpt, p)

  private[graft] def isCachePathIn(root: Option[String], p: String): Boolean =
    root.exists { r =>
      new java.io.File(p).getAbsolutePath
        .startsWith(new java.io.File(r).getAbsolutePath + "/")
    }

  /** md5 over (relative path | size | mtime) of every file under
    * `dir`, sorted — ONE definition for the cache key and the bench
    * artifact's `testdata_fingerprint`. The mtime is read at the
    * filesystem's FULL precision (nanoseconds where the FS records
    * them — ext4/tmpfs do), not `File.lastModified`'s milliseconds
    * (ADVICE r17): a same-size in-place rewrite landing inside one
    * millisecond would otherwise serve a stale staged artifact to the
    * correctness gate with no invalidation. Sub-millisecond rewrites
    * on a COARSE-mtime filesystem remain the documented residual
    * assumption — closing it fully would mean hashing file contents,
    * a full dataset read per JVM, which the fingerprint exists to
    * avoid. */
  def fingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(dir)
    def mtimeNanos(f: java.io.File): Long =
      try java.nio.file.Files.getLastModifiedTime(f.toPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch {
        // File.lastModified is MILLISECONDS — scale to the normal
        // path's nano unit, or a transient IO error on one file would
        // rotate the fingerprint of unchanged data and silently rebuild
        // every staged tier under a superseded key
        case _: java.io.IOException => f.lastModified * 1000000L
      }
    val lines = walk(root).map(f =>
      s"${root.toPath.relativize(f.toPath)}|${f.length}|${mtimeNanos(f)}")
    md5(lines.mkString("\n"))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of the code that would rebuild the artifact: the
    * classes directory (or jar) this class loaded from. Memoized —
    * classes don't change inside one JVM. None when unresolvable
    * (exotic classloader) → caching disabled rather than wrong. */
  private lazy val codeFingerprint: Option[String] =
    try {
      val src = classOf[SessionStaged[_]].getProtectionDomain.getCodeSource
      if (src == null || src.getLocation == null) None
      else {
        val f = new java.io.File(src.getLocation.toURI)
        if (!f.exists()) None
        else if (f.isDirectory) Some(fingerprint(f.getPath))
        else Some(md5(s"${f.getPath}|${f.length}|${f.lastModified}"))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private val dataFps =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dataFingerprint(dir: String): String =
    dataFps.computeIfAbsent(dir, fingerprint)

  /** hit/miss telemetry since the last [[drainEvents]] — the bench
    * staging artifact records these per tier, making a slow staging
    * number self-adjudicating (a HIT that took 100 s is contention on
    * a parquet read, never a rebuild regression). */
  private val events =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  private[graft] def drainEvents(): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.result()
  }

  private def record(tier: String, what: String): Unit = {
    events.add((tier, what)); ()
  }

  private def keyDir(root: String, tier: String, version: Int,
                     dataDir: String): String =
    s"$root/${tier}_v${version}_${dataFingerprint(dataDir).take(12)}_" +
      codeFingerprint.get.take(12)

  /** Sweep other-key entries and stale tmp dirs for `tier` — testdata
    * regens and recompiles would otherwise accrete dead copies forever.
    * Best-effort, on the miss path only, and AGE-GUARDED: only entries
    * untouched for [[SweepAgeMs]] are reclaimed, because a concurrent
    * gate JVM (a Verify racing a Bench on a different dataset) may
    * still hold live plans over an entry this key supersedes — deleting
    * it mid-session would fail that JVM's reads, the exact instability
    * this cache exists to remove. A gate session never spans the guard;
    * dead rounds' entries age past it and go on the next miss. */
  private val SweepAgeMs = 2L * 3600 * 1000

  private def sweepStale(root: String, tier: String, keep: String): Unit =
    try {
      val now = System.currentTimeMillis()
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(s"${tier}_v") &&
          f.getAbsolutePath != new java.io.File(keep).getAbsolutePath &&
          now - f.lastModified() > SweepAgeMs)
        .foreach(f =>
          org.apache.commons.io.FileUtils.deleteQuietly(f))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Complete-or-absent move-into-place: returns the final dir to READ.
    * `build` populates the tmp dir it is given. */
  private def materialize(root: String, tier: String, version: Int,
                          dataDir: String)(build: String => Unit): String = {
    val dest = keyDir(root, tier, version, dataDir)
    val destPath = java.nio.file.Paths.get(dest)
    if (java.nio.file.Files.exists(destPath)) { record(tier, "hit"); dest }
    else {
      record(tier, "miss")
      sweepStale(root, tier, keep = dest)
      val tmp = s"$dest.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      try {
        build(tmp)
        try {
          java.nio.file.Files.move(java.nio.file.Paths.get(tmp), destPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          // rename onto an existing entry fails in platform-dependent
          // dress (DirectoryNotEmptyException, or the raw
          // FileSystemException ENOTEMPTY on Linux) — if the
          // destination EXISTS a concurrent build won the move and its
          // copy serves both; any other move failure is real
          case e: java.nio.file.FileSystemException =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
            if (!java.nio.file.Files.exists(destPath)) throw e
        }
        dest
      } catch {
        case t: Throwable =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
          throw t
      }
    }
  }

  /** A disk-cached DataFrame: on hit, ONE parquet read replaces the
    * whole build; on miss, `build` runs once, is persisted at
    * `persist` (if given), and the cache parquet is written FROM it —
    * the returned frame is the in-memory build itself, so a miss pays
    * the r16 build cost plus only the parquet encode, never a
    * read-back re-materialization. Hit and miss serve equal values
    * because the parquet is a faithful copy of a deterministic build
    * (column order and types preserved) and any code change rotates
    * the key. Caller unpersists the returned frame exactly as before;
    * `persist` here replaces the caller-side `.persist(lvl)` so the
    * write and the consumers share one materialization. Caching
    * disabled → the plain (persisted) build. */
  private[graft] def frame(s: SparkSession, dataDir: String, tier: String,
                           version: Int,
                           persist: Option[org.apache.spark.storage.StorageLevel] = None)
                          (build: => DataFrame): DataFrame =
    frameIn(rootOpt, s, dataDir, tier, version, persist)(build)

  private[graft] def frameIn(root: Option[String], s: SparkSession,
                             dataDir: String, tier: String, version: Int,
                             persist: Option[org.apache.spark.storage.StorageLevel] = None)
                            (build: => DataFrame): DataFrame = {
    def persisted(df: DataFrame): DataFrame = {
      persist.foreach(df.persist); df
    }
    root match {
      case None => record(tier, "off"); persisted(build)
      case Some(r) =>
        var built: DataFrame = null
        val dir = materialize(r, tier, version, dataDir) { tmp =>
          built = persisted(build)
          built.write.mode("overwrite").parquet(s"$tmp/data")
        }
        if (built != null) built
        else {
          // HIT path: materialize EAGERLY (VERDICT r17 item 1). The
          // miss path is eager by construction — the cache write runs
          // the build and fills the persist level — but a lazy
          // read-back shifted the hit's parquet read + persist into
          // whichever QUERY touched the artifact first, making warm
          // and cold per-query numbers incomparable (warm
          // dedup_containment 4.6 s vs 1.0 s cold, §7 r17) and
          // charging disk-served tiers the re-read once per run. One
          // count() here pulls the frame into its persist level while
          // the STAGING tier still owns the timer.
          val back = persisted(s.read.parquet(s"$dir/data"))
          if (persist.isDefined) { back.count(); () }
          back
        }
    }
  }

  /** A disk-cached directory artifact (the persisted indexes): `build`
    * populates the directory it is given; the returned path is the
    * stable cached location. The caller treats it as IMMUTABLE (the
    * session-staged contract) and must NOT delete it at teardown —
    * longevity is the point. Caching disabled → build into a fresh
    * temp dir (the pre-r17 behavior; `fallbackTmp` names it). */
  private[graft] def dir(s: SparkSession, dataDir: String, tier: String,
                         version: Int, fallbackTmp: String)
                        (build: String => Unit): (String, Boolean) =
    dirIn(rootOpt, s, dataDir, tier, version, fallbackTmp)(build)

  private[graft] def dirIn(root: Option[String], s: SparkSession,
                           dataDir: String, tier: String, version: Int,
                           fallbackTmp: String)
                          (build: String => Unit): (String, Boolean) =
    root match {
      case None =>
        record(tier, "off")
        val tmp = java.nio.file.Files.createTempDirectory(fallbackTmp).toString
        try { build(tmp); (tmp, false) }
        catch { case t: Throwable => IndexFs.deleteQuietly(tmp); throw t }
      case Some(r) =>
        (materialize(r, tier, version, dataDir)(build), true)
    }
}
