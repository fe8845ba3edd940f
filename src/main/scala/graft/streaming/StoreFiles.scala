package graft.streaming

/** Shared filesystem plumbing for the delta stores (ShardSink,
  * VectorIndexSink): recursive delete, published-directory listing, the
  * stage-then-atomic-rename publish that both sinks' atomicity
  * contracts rest on, and the retirement/compaction lineage markers the
  * retention verbs check. One implementation so a fix to commit
  * semantics lands everywhere at once. */
private[graft] object StoreFiles {

  /** Tombstone a [[retiredTo]]-readable marker leaves behind after
    * `retire` deletes a pre-compaction store: any later read or append
    * against the retired directory fails loudly, naming the successor,
    * instead of serving an empty/partial view. */
  val RetiredMarker = "_graft_retired"

  /** Marker inside a SIZE-TIERED run directory (`t<id>` referenced /
    * `u<id>` committed-but-unreferenced): `tier=<t>`, `lo=<v>`,
    * `hi=<v>` — the unit range the run covers, inclusive.
    * Underscore-prefixed so parquet scans of the run never see it. */
  val TierRunMarker = "_graft_tier_run"

  /** (tier, lo, hi) of a run dir, None when it carries no marker. */
  def runMeta(d: java.io.File): Option[(Int, Long, Long)] =
    readMarker(new java.io.File(d, TierRunMarker))
      .map(m => (m("tier").toInt, m("lo").toLong, m("hi").toLong))

  /** Compaction-lineage marker `compact` writes into its target:
    * `src=<canonical source dir>` and `max=<highest version/batch id
    * folded>`. `retire` refuses to delete a source this marker does not
    * name, and refuses when the source has grown past `max` (data
    * committed after the compaction would be destroyed). */
  val CompactedFromMarker = "_graft_compacted_from"

  /** Markers are written via temp-file + ONE atomic same-dir rename, so
    * a reader (or the post-crash heal) sees the old marker or the new,
    * never a torn file. This matters since compaction top-up REWRITES a
    * live [[CompactedFromMarker]] to advance `max`: a non-atomic write
    * crashed mid-flight would leave a marker the heal cannot parse —
    * loud, but unrecoverable without operator surgery. */
  def writeMarker(f: java.io.File, lines: Seq[String]): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    java.nio.file.Files.write(tmp.toPath,
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // This path REWRITES live markers (manifest swap each cycle, topUp
    // advancing a live CompactedFromMarker). Per the Files.move javadoc,
    // when ATOMIC_MOVE is present ALL other options are ignored, so
    // adding REPLACE_EXISTING cannot buy the replace guarantee —
    // replace-on-existing-target under ATOMIC_MOVE stays
    // provider-specific (POSIX rename replaces; others may throw).
    // Handle the two non-POSIX shapes explicitly instead.
    try java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // no atomic rename on this provider: a plain replacing move is
        // the best available (a crash mid-copy could leave a torn
        // marker; the POSIX deployment never takes this branch)
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      case _: java.nio.file.FileAlreadyExistsException =>
        // provider refuses replace-under-ATOMIC_MOVE: delete then retry
        // — a reader may observe a briefly MISSING marker between the
        // two calls, never a torn one
        java.nio.file.Files.deleteIfExists(f.toPath)
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def readMarker(f: java.io.File): Option[Map[String, String]] =
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.contains("="))
      .map { l => val i = l.indexOf('=')
        l.take(i) -> l.drop(i + 1) }
      .toMap)

  /** The successor dir a retired store points at, if this store was
    * retired. */
  def retiredTo(dir: String): Option[String] =
    readMarker(new java.io.File(dir, RetiredMarker)).map(_("to"))

  /** Fail loudly on any access to a retired store — the retention
    * floor: history at or before the compaction lives only in the
    * successor (from its v0/base onward), so a read or asOf against
    * the retired layout can never be served, partially or at all. */
  def requireNotRetired(dir: String, what: String): Unit =
    retiredTo(dir).foreach { to =>
      throw new IllegalStateException(
        s"$what at $dir was retired after compaction into $to - " +
          "read/append against the compacted store (pre-compaction " +
          "version history is beyond the retention floor)")
    }

  /** Record compaction lineage in the target (see
    * [[CompactedFromMarker]]). Written AFTER the fold commits: a crash
    * between the fold and this marker leaves a target [[retire]] will
    * refuse — recovery is delete-the-target-and-recompact, never a
    * silent partial retire. `max` is the highest version/batch the
    * target COVERS (folded or copied — retire's data-safety check);
    * `floor`, when lower, is the highest version/batch folded into the
    * base — the retention floor under windowed retention, where the
    * newest deltas are copied into the target verbatim and stay
    * individually addressable by asOf. */
  def writeCompactedFrom(outDir: String, srcDir: String,
                         maxFolded: Long,
                         floor: Option[Long] = None): Unit =
    writeMarker(new java.io.File(outDir, CompactedFromMarker),
      Seq(s"src=${new java.io.File(srcDir).getCanonicalPath}",
        s"max=$maxFolded") ++
        floor.filter(_ < maxFolded).map(f => s"floor=$f"))

  /** Validate `compactedTo` really is a committed compaction of
    * `storeDir` covering everything `latestInSource` now holds, then
    * atomically mark `storeDir` retired (readers start failing loudly)
    * and return. The caller deletes the store's payload dirs after. */
  def beginRetire(storeDir: String, compactedTo: String,
                  latestInSource: Option[Long]): Unit = {
    requireNotRetired(storeDir, "store")
    val marker = readMarker(
      new java.io.File(compactedTo, CompactedFromMarker))
    require(marker.isDefined,
      s"retire: $compactedTo carries no $CompactedFromMarker marker - " +
        "it is not a committed compaction target (a crash between the " +
        "fold and the marker leaves this state: delete the target and " +
        "recompact)")
    val src = marker.get.getOrElse("src", "")
    val canonical = new java.io.File(storeDir).getCanonicalPath
    require(src == canonical,
      s"retire: $compactedTo was compacted from $src, not $canonical - " +
        "refusing to delete a store the target does not descend from")
    val maxFolded = marker.get.getOrElse("max", "-1").toLong
    latestInSource.foreach { latest =>
      require(latest <= maxFolded,
        s"retire: $storeDir holds versions/batches up to $latest but " +
          s"$compactedTo folded only up to $maxFolded - data committed " +
          "after the compaction would be destroyed; recompact first")
    }
    // the payload sweep deletes everything under the store: a successor
    // NESTED inside it would be destroyed along with the history it is
    // supposed to replace — refuse the layout outright
    require(!new java.io.File(compactedTo).getCanonicalPath
        .startsWith(canonical + java.io.File.separator),
      s"retire: compaction target $compactedTo is nested inside the " +
        s"store being retired ($canonical) - the payload sweep would " +
        "destroy it; compact into a sibling directory")
    writeMarker(new java.io.File(storeDir, RetiredMarker),
      Seq(s"to=${new java.io.File(compactedTo).getCanonicalPath}"))
  }

  def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete()
  }

  /** Recursive copy (windowed retention's retained-delta carry-over:
    * a kept delta dir is copied into the compaction target verbatim,
    * staged and published like any commit). */
  def copyRec(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyRec(f, new java.io.File(dst, f.getName)))
    } else {
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  /** Delete everything under `dir` EXCEPT the [[RetiredMarker]] — the
    * retire verb's payload sweep: the marker must outlive the data so
    * late readers fail loudly instead of seeing an empty store. */
  def deletePayload(dir: String): Unit =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName == RetiredMarker)
      .foreach(deleteRec)

  /** Committed directories under `parent` named `<prefix><digits>`,
    * ascending by number, keeping only those satisfying `nonEmpty` on
    * their children (a crash can never leave a half-committed dir —
    * publish is a rename — but an EMPTY commit, e.g. an empty
    * micro-batch's delta, carries no parquet schema and must not reach
    * a reader). */
  def publishedDirs(parent: String, prefix: String,
                    nonEmpty: java.io.File => Boolean): Seq[(Long, java.io.File)] =
    Option(new java.io.File(parent).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)
        && f.getName.drop(prefix.length).matches("\\d+")
        && nonEmpty(f))
      .map(f => f.getName.drop(prefix.length).toLong -> f)
      .sortBy(_._1).toSeq

  /** Name + length + mtime of every file under `dir`, recursively
    * (sorted, one `<dir name>/<relative path>:<length>:<mtime>` line
    * each) — the driver-side change detector the codebook and arm
    * caches key on. Parquet part-file names carry a per-write UUID, so
    * any rewrite or in-place append changes it. Empty when nothing can
    * be listed (a non-local path such as hdfs:// or s3a://, or an
    * unreadable dir): callers treat that as uncacheable. */
  def fingerprint(dir: java.io.File): String =
    fingerprintOf(dir, listing(dir))

  /** [[fingerprint]] of a [[listing]] of `dir` already made. */
  def fingerprintOf(dir: java.io.File,
                    files: Seq[(String, Long, Long)]): String =
    files.map { case (rel, len, mtime) => s"${dir.getName}/$rel:$len:$mtime" }
      .sorted.mkString("\n")

  /** Every file under `dir`, recursively, as (path relative to `dir`,
    * length, mtime); empty when nothing can be listed. */
  def listing(dir: java.io.File): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File, rel: String): Seq[(String, Long, Long)] =
      Option(f.listFiles()).fold(Seq.empty[(String, Long, Long)])(
        _.toSeq.flatMap { c =>
          val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
          if (c.isDirectory) walk(c, r)
          else Seq((r, c.length, c.lastModified))
        })
    walk(dir, "")
  }

  /** The canonical form of `path`, or `path` itself when it cannot be
    * resolved — the key of the per-directory driver caches. */
  def cacheKey(path: String): String =
    try new java.io.File(path).getCanonicalPath
    catch { case _: java.io.IOException => path }

  def hasParquet(dir: java.io.File): Boolean =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.endsWith(".parquet"))

  /** Non-emptiness for a fingerprint-ledger batch dir, which since the
    * prefix-partitioned layout holds its parquet one level down in
    * `__pp=K/` subdirs (legacy unpartitioned batches keep their files
    * at the top level — both layouts stay readable). */
  def hasLedgerParquet(dir: java.io.File): Boolean =
    hasParquet(dir) || Option(dir.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("__pp=")
        && hasParquet(f))

  def hasListPartitions(dir: java.io.File): Boolean =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("__list="))

  /** Publish `write`'s output at `dst` via stage + single atomic
    * rename; returns false without writing if `dst` is already
    * published (the batchId-keyed exactly-once skip — `foreachBatch`
    * is at-least-once, so a re-delivered batch must find its commit
    * and do nothing). Stale staging from a crashed attempt is swept
    * first; the rename is the commit point, so a reader never
    * observes a partially-written published directory. */
  def publishOnce(stagingPath: String, dst: java.io.File,
                  write: String => Unit): Boolean = {
    if (dst.exists()) return false
    val staging = new java.io.File(stagingPath)
    deleteRec(staging)
    write(staging.getAbsolutePath)
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(staging.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    true
  }
}
