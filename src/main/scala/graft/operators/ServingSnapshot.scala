package graft.operators

/** Atomic MULTI-INDEX publish for the serving tier (r16) — the missing
  * coordination layer above the per-index [[Generations]] commits.
  *
  * THE PROBLEM: a RAG deployment serves retrieval off SEVERAL persisted
  * artifacts at once — the sparse postings index (TermIndex) and the
  * dense vector index (VectorIndex) at minimum — and each advances
  * independently as its ingest loop appends and compacts. Per-index
  * commits are atomic, but a reader resolving each index's current
  * state INDEPENDENTLY can pair a postings view from after an ingest
  * batch with a vector view from before it: the two legs then disagree
  * about which documents exist, and a fused ranking (q_hybrid_rrf's
  * shape) silently drops or double-counts the difference. At 100 TB
  * with continuously-running ingest this is the steady state, not a
  * corner case.
  *
  * THE MECHANISM — pinned FILE manifests, the Iceberg/Delta snapshot
  * discipline re-expressed over the house index layout: a snapshot
  * version is one manifest file, `_snap.v=N`, whose content lists, per
  * leg, the exact parquet data files (relative to the leg's generation
  * directory) that existed at the publish instant. Pinning FILES —
  * not just the generation number — is what makes a snapshot immutable:
  * appends land NEW files inside the current generation directory, so
  * a generation-number pin would watch new documents trickle into one
  * leg before the other, exactly the torn read the snapshot exists to
  * prevent. Data files are write-once (appends add, compaction writes
  * a NEW generation directory), so a pinned file set never changes
  * underneath its readers; the pinned probes
  * (`TermIndex.probePinned` / `VectorIndex.probeIvfPinned` /
  * `VectorIndex.probeMipsPinned` / `BandIndex.probePinned`) read
  * exactly the listed files and score bit-identically to the probe
  * that ran at publish time, for as long as the snapshot lives.
  *
  * TWO MANIFEST FORMS (r17 — the Iceberg manifest-list split, VERDICT
  * r16 item 3b): a small cut inlines its file census in the version
  * file. Past [[SplitThreshold]] pinned files, the version file instead
  * NAMES one per-leg manifest file (`_snapleg.v=N.<leg>`) per leg, each
  * carrying that leg's census under its own completeness footer — so at
  * production file counts (10⁵–10⁶ per leg) a publish writes and a
  * resolve reads per-leg files instead of one census-of-everything, and
  * a single-leg consumer (a compactor computing protection for one
  * index) still pays one version read + that leg's manifests. Write
  * order makes the split form exactly as atomic as the inline form: leg
  * manifests land FIRST (invisible — nothing references them), the
  * version file last (the visibility point, no-overwrite create);
  * readers treat a version whose referenced leg manifest is missing or
  * footer-less as IN-FLIGHT, which also covers the retire race (retire
  * deletes the version file first, then its leg manifests).
  *
  * ATOMICITY: the VERSION rides in the manifest's NAME, so a racing
  * reader listing the directory parses {old} or {old, new} and takes
  * the max — never a half-written NAME. Content visibility is the
  * subtler half: on object stores the manifest PUT lands whole at
  * close, but on HDFS and local FS `create()` makes an EMPTY file
  * visible before the content is written — so every manifest ends
  * with a `#complete n=<lines>` FOOTER, writers emit it last, and
  * readers treat a footer-less or short manifest as IN-FLIGHT:
  * [[resolve]] falls back to the newest COMPLETE version (old-or-new
  * semantics, exactly what a mid-publish reader should see) and
  * [[resolveAt]] of an in-flight version fails loudly naming the
  * cause. Duplicate publish of the same version is guarded by the
  * no-overwrite create — a loud backstop on HDFS/local (where
  * check-then-create still has a small race window) and best-effort on
  * object stores without conditional put; the PRIMARY contract is the
  * single writer the ingest sinks already are, the guard only turns a
  * contract violation into a crash instead of silence where the store
  * allows it.
  *
  * RETENTION: compaction reaps superseded generations, which would
  * pull pinned files out from under a serving reader. The ingest loop
  * passes [[protectedGens]] — every generation pinned by any LIVE
  * snapshot version of that index — into its compact calls; [[retire]]
  * deletes old snapshot versions, after which the next sweep reaps the
  * freed generations. A reader holding a retired version gets the loud
  * missing-generation failure from its pinned probe, naming the cause
  * — never silently-empty results. Leg directories are stored
  * FILESYSTEM-QUALIFIED (fs.makeQualified at publish), and
  * [[protectedGens]] qualifies its argument the same way, so a
  * publisher and a compactor spelling the same path differently
  * (scheme prefix, trailing slash) can never silently drop protection.
  */
object ServingSnapshot {

  private val MarkerPrefix = "_snap.v="
  private val LegMarkerPrefix = "_snapleg.v="
  private val FooterPrefix = "#complete n="
  private val LegRefPrefix = "@leg\t"

  /** Pinned-file count above which [[publishLegs]] writes the SPLIT
    * form (per-leg manifest files named by the version file) instead of
    * inlining the census. 10⁴ keeps the inline form for every
    * gate-scale cut while production corpora (10⁵–10⁶ files per leg)
    * get per-leg manifests — the Iceberg manifest-list sizing. */
  val SplitThreshold = 10000

  /** One leg's pinned view: the index root (filesystem-qualified), the
    * generation its files live in, and the data files (relative to
    * that generation's directory) that existed at publish. */
  final case class Leg(dir: String, gen: Long, files: Seq[String])

  /** One consistent cross-index cut. */
  final case class Snapshot(version: Long, legs: Map[String, Leg])

  /** `dir` as its filesystem spells it — scheme-qualified, no trailing
    * slash — so path comparisons (protection!) never depend on how the
    * caller happened to write the path. */
  private[graft] def qualified(dir: String): String = {
    val (fs, p) = IndexFs.resolve(dir)
    fs.makeQualified(p).toString
  }

  private def versionsOn(snapDir: String): Seq[Long] =
    IndexFs.list(snapDir)
      .map(_.getPath.getName)
      .filter(_.startsWith(MarkerPrefix))
      // toLongOption: one stray non-numeric _snap.v=* file (partial
      // upload, editor backup) must not take down every publish,
      // resolve, and protected compact — the Generations discipline
      .flatMap(_.stripPrefix(MarkerPrefix).toLongOption)
      .toSeq.sorted

  /** Latest version ON DISK (complete or in-flight); 0 before any
    * publish. Publishers allocate from this — an in-flight version
    * still owns its number. */
  def currentVersion(snapDir: String): Long =
    versionsOn(snapDir).lastOption.getOrElse(0L)

  /** Read `file` if it exists and is COMPLETE (footer present and line
    * count matching — a `create()`-visible-but-unwritten or
    * partially-written manifest fails both), returning its body lines.
    * An IO failure on the READ — the manifest vanished between the
    * existence check and the open, or mid-read, which a concurrent
    * [[retire]] makes routine — reads as absent, same as losing the
    * exists check: the caller falls back to another version. */
  private def completeBody(file: String): Option[Seq[String]] = {
    if (!IndexFs.exists(file)) return None
    val content =
      try IndexFs.readSmall(file)
      catch { case _: java.io.IOException => return None }
    val lines = content.split("\n").iterator
      .filter(_.nonEmpty).toSeq
    val body = lines.filterNot(_.startsWith("#"))
    val complete = lines.lastOption.exists(l =>
      l.startsWith(FooterPrefix) &&
        l.stripPrefix(FooterPrefix).toLongOption.contains(body.size.toLong))
    if (complete) Some(body) else None
  }

  private def legsOfRows(rows: Seq[(String, String, Long, String)]): Map[String, Leg] =
    rows.groupBy(_._1).map { case (name, rs) =>
      name -> Leg(rs.head._2, rs.head._3, rs.map(_._4))
    }

  /** Parse a manifest version if it is COMPLETE, else None. Inline
    * form: the body IS the census. Split form: every body line is an
    * `@leg` reference to a per-leg manifest file, each of which must
    * itself exist and be complete — a missing or footer-less leg
    * manifest makes the whole version in-flight (covers both a publish
    * mid-write and a retire that already took the version's legs).
    * A manifest whose footer landed but whose body does not parse
    * (truncated line, non-numeric generation — disk corruption or a
    * foreign writer) reads as UNUSABLE, not as an outage: one bad
    * version must not take down every resolve, retire, and protected
    * compact of the snapshot directory (the stray-file discipline
    * versionsOn already applies to names). */
  private def parseComplete(snapDir: String, version: Long): Option[Snapshot] =
    try {
      completeBody(s"$snapDir/$MarkerPrefix$version").flatMap { body =>
        if (body.exists(_.startsWith(LegRefPrefix))) {
          // split form: strict — a mixed manifest is a writer bug, and
          // serving half a cut would be the torn read this layer exists
          // to prevent
          if (!body.forall(_.startsWith(LegRefPrefix))) None
          else {
            val legBodies = body.map { line =>
              val Array(_, _, legFile, _) = line.split("\t", 4)
              completeBody(s"$snapDir/$legFile")
            }
            if (legBodies.exists(_.isEmpty)) None
            else Some(Snapshot(version,
              legsOfRows(legBodies.flatMap(_.get).map(parseCensusLine))))
          }
        } else Some(Snapshot(version, legsOfRows(body.map(parseCensusLine))))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def parseCensusLine(line: String): (String, String, Long, String) = {
    val Array(name, dir, gen, f) = line.split("\t", 4)
    (name, dir, gen.toLong, f)
  }

  /** Publish a new snapshot version pinning each named leg's current
    * committed generation AND its exact data-file census. Single-writer
    * between ingest batches (see the class doc's atomicity contract).
    * For indexes on the [[Generations]] layout; a component with its
    * own commit encoding (ParquetGraphSink) builds its [[Leg]] itself
    * and publishes through [[publishLegs]]. */
  def publish(snapDir: String, legs: Map[String, String]): Long =
    publishLegs(snapDir, legs.map { case (name, d) => name -> legOf(d) })

  /** The current [[Leg]] of a standard [[Generations]]-layout index —
    * committed generation + file census, dir qualified. */
  def legOf(indexDir: String): Leg = {
    val qd = qualified(indexDir)
    val gen = Generations.currentGen(qd)
    Leg(qd, gen, IndexFs.listParquetRecursive(s"$qd/gen=$gen"))
  }

  /** [[publish]] over caller-built legs — the seam for components whose
    * commit state is not a bare `_commit.gen=N` marker (the graph
    * sink's two-field record): the component computes (dir, gen, file
    * census) under its own commit discipline, this writes the same
    * atomic manifest. Dirs are re-qualified here, so a caller-built leg
    * gets the same spelling-proof protection as the standard path.
    * `splitOver` is the [[SplitThreshold]] seam (tests drive the split
    * form without 10⁴ files); production callers take the default. */
  def publishLegs(snapDir: String, legs: Map[String, Leg],
                  splitOver: Int = SplitThreshold): Long = {
    require(legs.nonEmpty, "ServingSnapshot.publish: no legs")
    legs.keysIterator.foreach { n =>
      require(!(n.contains("\t") || n.contains("\n") || n.contains("/") ||
          n.startsWith("#") || n.startsWith("@")),
        s"ServingSnapshot.publish: leg name '$n' must not contain tabs, " +
          "newlines, or '/', or start with '#'/'@' (the manifest " +
          "comment/footer/leg-reference prefixes and the split-manifest " +
          "filename seam)")
    }
    val v = currentVersion(snapDir) + 1
    val perLeg: Seq[(String, Seq[String])] = legs.toSeq.sortBy(_._1)
      .map { case (name, leg) =>
        val qd = qualified(leg.dir)
        require(leg.files.nonEmpty,
          s"ServingSnapshot.publish: leg '$name' has no data files under " +
            s"$qd/gen=${leg.gen} — not a built index")
        // a tab or newline anywhere in a pinned path would corrupt the
        // 4-field line format or the footer's line count, producing a
        // version that parses as permanently in-flight and is silently
        // skipped by resolve — fail the PUBLISH loudly instead
        // (ADVICE r16). The qualified dir is checked too: qualifying
        // cannot introduce control characters, but the invariant should
        // hold on what is actually written, not on an argument.
        (qd +: leg.files).foreach { s =>
          require(!(s.contains("\t") || s.contains("\n")),
            s"ServingSnapshot.publish: leg '$name' pins a path containing " +
              s"a tab or newline ('${s.take(80)}') — unencodable in the " +
              "manifest line format")
        }
        name -> leg.files.map(f => s"$name\t$qd\t${leg.gen}\t$f")
      }
    def withFooter(body: Seq[String]): String =
      (body :+ s"$FooterPrefix${body.size}").mkString("\n")
    val totalFiles = perLeg.iterator.map(_._2.size).sum
    if (totalFiles <= splitOver) {
      IndexFs.createMarker(s"$snapDir/$MarkerPrefix$v",
        withFooter(perLeg.flatMap(_._2)), overwrite = false)
    } else {
      // split form: leg manifests first (invisible until referenced),
      // the version file LAST as the atomic visibility point. Leg
      // manifest names carry a PER-PUBLISH NONCE and are created
      // no-overwrite (ADVICE r17 — the Iceberg unique-manifest-name
      // discipline): named-only files written with overwrite=true let
      // two publishers racing the same version silently cross their
      // censuses — each overwrites the other's leg files before one
      // wins the version-file create, and the surviving version then
      // serves the loser's (or a mixed) cut. With a nonce each
      // attempt's leg files are private to it, the version file
      // references its own EXACT filenames, and the no-overwrite
      // create turns a freak nonce collision into the same loud crash
      // the inline form gives. A losing/crashed attempt's stranded
      // files share the version's number and are swept by [[retire]]
      // with (or after) that version.
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val refs = perLeg.map { case (name, lines) =>
        val legFile = s"$LegMarkerPrefix$v.$nonce.$name"
        IndexFs.createMarker(s"$snapDir/$legFile", withFooter(lines),
          overwrite = false)
        s"$LegRefPrefix$name\t$legFile\t${lines.size}"
      }
      IndexFs.createMarker(s"$snapDir/$MarkerPrefix$v", withFooter(refs),
        overwrite = false)
    }
    v
  }

  /** The newest COMPLETE snapshot — a manifest whose footer has not
    * landed yet (a publish in flight on HDFS/local, where `create`
    * exposes the file before the content) is skipped, giving the
    * old-or-new semantics a mid-publish reader should see. Loud at once
    * when no version has been published at all.
    *
    * After the first publish the directory always holds a complete
    * version: publish only adds, and [[retire]] keeps the newest
    * complete ones. A reader can still find nothing complete in one
    * attempt, because its listing is taken once: a concurrent
    * publish+retire can delete every LISTED version after the listing
    * (ADVICE r16), and the very first publish is visible before its
    * footer lands. So while the listing holds any version, the attempt
    * repeats with a fresh listing, with a short exponential backoff per
    * lost round (a reader descheduled behind a fast-cycling publisher
    * must stop racing it stride-for-stride). The budget is wall-clock,
    * not an attempt count: under machine load a reader can lose 50+
    * rounds to a tight-loop publisher, and an attempt cap would turn
    * that into a spurious outage. Only a directory whose versions stay
    * incomplete for the whole budget throws, so such a directory (a
    * crashed first publish never superseded, or a version
    * `parseComplete` can never accept) costs every caller the full 30 s
    * before the error, where a stable listing used to throw at once.
    * A reader that meets the first publish in flight waits for it
    * instead of failing. */
  def resolve(snapDir: String): Snapshot = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    @annotation.tailrec
    def loop(attempt: Int): Snapshot = {
      val vs = versionsOn(snapDir)
      val hit = vs.reverseIterator
        .map(parseComplete(snapDir, _))
        .collectFirst { case Some(s) => s }
      hit match {
        case Some(s) => s
        case None if vs.nonEmpty && System.nanoTime() < deadline =>
          Thread.sleep(math.min(20L, 1L << math.min(attempt, 10)))
          loop(attempt + 1)
        case None => throw new IllegalArgumentException(
          s"ServingSnapshot.resolve: no complete snapshot published under $snapDir")
      }
    }
    loop(attempt = 0)
  }

  /** A specific snapshot version — the handle a long-lived reader holds
    * onto. Loud when the version was retired, never published, or is
    * still in flight, naming the cause. */
  def resolveAt(snapDir: String, version: Long): Snapshot = {
    require(IndexFs.exists(s"$snapDir/$MarkerPrefix$version"),
      s"ServingSnapshot.resolveAt: version $version not found under " +
        s"$snapDir — retired (or never published); re-resolve the " +
        "latest snapshot")
    parseComplete(snapDir, version).getOrElse(
      throw new IllegalArgumentException(
        s"ServingSnapshot.resolveAt: version $version under $snapDir is " +
          "incomplete — a publish in flight (or a torn write); re-resolve " +
          "or retry"))
  }

  /** Generations pinned by any LIVE complete snapshot version, per
    * QUALIFIED leg directory — ONE pass over the live manifests serving
    * every index the caller compacts ([[protectedGens]] is the
    * single-index convenience view). In-flight manifests are skipped:
    * a publish in flight pins only the CURRENT generation, which a
    * concurrent compact keeps anyway (it is the fold source). */
  def protectedGensAll(snapDir: String): Map[String, Set[Long]] =
    versionsOn(snapDir)
      .flatMap(parseComplete(snapDir, _))
      .flatMap(_.legs.valuesIterator)
      .groupBy(_.dir)
      .map { case (d, legs) => d -> legs.map(_.gen).toSet }

  /** Generations of `indexDir` pinned by any LIVE snapshot version —
    * the `protect` set a single-index ingest loop passes into its
    * compact call. */
  def protectedGens(snapDir: String, indexDir: String): Set[Long] =
    protectedGensAll(snapDir).getOrElse(qualified(indexDir), Set.empty)

  /** Integrity check for a resolved snapshot — the CorpusExport.verify
    * discipline applied to manifests: every pinned data file must still
    * exist on its filesystem. Returns the missing files, sorted (empty
    * = intact). An ops primitive for the serving side: run it before
    * promoting a reader to a version, or after an incident, to
    * distinguish "the manifest is fine" from "someone deleted data out
    * from under it" — a pinned probe would fail mid-scan with a
    * storage-layer error; this names the files up front. Metadata-only
    * and BATCHED (VERDICT r16 item 3a): one recursive listing per
    * pinned generation directory + a set-diff — O(directories)
    * filesystem calls, never one existence RPC per pinned file, which
    * at production file counts (10⁵–10⁶ per leg) was minutes of
    * sequential round-trips. */
  def verify(snapshot: Snapshot): Seq[String] =
    snapshot.legs.valuesIterator.toSeq
      .groupBy(l => (l.dir, l.gen)).toSeq
      .flatMap { case ((dir, gen), legs) =>
        val existing = IndexFs.listFilesRecursive(s"$dir/gen=$gen").toSet
        legs.iterator.flatMap(_.files.iterator)
          .filterNot(existing)
          .map(f => s"$dir/gen=$gen/$f")
      }.distinct.sorted

  /** Delete old snapshot versions, keeping the newest `keepLatest`
    * COMPLETE versions — plus every version NEWER than the oldest kept
    * complete one (an in-flight publish above the cut still owns its
    * number and must not be swept mid-write). Counting completeness
    * matters (ADVICE r16): a crashed publish leaves a torn newest
    * version, and a dropRight over all on-disk versions would count it
    * toward the keep budget and delete the only COMPLETE version —
    * after which resolve fails until the next successful publish.
    * Torn versions BELOW the cut are garbage from crashed publishes
    * and are swept with the retired ones. The freed generations are
    * reaped by the NEXT compaction sweep (whose [[protectedGens]] no
    * longer includes them) — retire never touches index data itself.
    * Deletion order: version files FIRST (readers stop resolving them
    * atomically), then every split-form leg manifest below the cut —
    * INCLUDING orphans whose version file is already gone (ADVICE
    * r17: a crash between a version file's delete and its leg
    * manifests' left `_snapleg.v=N.*` stranded forever, because the
    * per-version sweep could only reach versions still listed). Leg
    * manifests at or above the cut are never touched: a publish
    * writes its leg files BEFORE its version file, so sweeping them
    * would tear an in-flight publish mid-write. */
  def retire(snapDir: String, keepLatest: Int = 1): Unit = {
    require(keepLatest >= 1, "ServingSnapshot.retire: keepLatest must be >= 1")
    val versions = versionsOn(snapDir)
    val complete = versions.filter(parseComplete(snapDir, _).isDefined)
    val cutoff: Long =
      if (complete.size <= keepLatest) Long.MinValue
      else complete(complete.size - keepLatest)
    versions.filter(_ < cutoff).foreach { v =>
      IndexFs.deleteQuietly(s"$snapDir/$MarkerPrefix$v")
    }
    // ONE listing pass for every reclaimable leg manifest (nonce names
    // still parse: the version number is the first dot-terminated
    // field after the prefix). Reclaimable = below the cut, OR an
    // ORPHAN: its version file is gone and its number is not above
    // the newest listed version — a version file can only be absent
    // at that height because a retire deleted it (this crash's strand)
    // or a publish of it crashed pre-visibility; a LIVE in-flight
    // publish always allocates above the listed maximum, so its
    // not-yet-referenced leg files are never swept.
    val onDisk = versions.toSet
    val maxV = versions.lastOption.getOrElse(Long.MinValue)
    IndexFs.list(snapDir)
      .map(_.getPath.getName)
      .filter(_.startsWith(LegMarkerPrefix))
      .foreach { n =>
        n.stripPrefix(LegMarkerPrefix).takeWhile(_ != '.').toLongOption
          .filter(v => v < cutoff || (!onDisk.contains(v) && v <= maxV))
          .foreach(_ => IndexFs.deleteQuietly(s"$snapDir/$n"))
      }
  }

  /** Shared pinned-probe admission check: the leg's files must all sit
    * under one of `prefixes` (else the caller resolved the WRONG leg —
    * a TermIndex probe handed a vector leg, etc.) and the pinned
    * generation directory must still exist (else the snapshot was
    * retired and reaped). One definition so the refusal wording and
    * diagnostics cannot drift across the four pinned readers. */
  private[graft] def requireLeg(leg: Leg, prefixes: Seq[String],
                                component: String): Unit = {
    leg.files.find(f => !prefixes.exists(f.startsWith)) foreach { bad =>
      throw new IllegalArgumentException(
        s"$component: leg at ${leg.dir} pins file '$bad' outside " +
          s"${prefixes.mkString("/")} — this leg is not a $component index " +
          "(wrong leg name resolved from the snapshot?)")
    }
    require(IndexFs.exists(s"${leg.dir}/gen=${leg.gen}"),
      s"$component: generation ${leg.gen} of ${leg.dir} is gone — its " +
        "snapshot was retired and the generation reaped (or it never " +
        "committed); re-resolve the latest ServingSnapshot")
  }
}
