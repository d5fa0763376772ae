package graft.streaming

import java.io.File

/** The versioned-state protocol shared by the two maintained index
  * families — the kNN-graph index ([[IndexMaintenance]]) and the BM25
  * posting index ([[PostingsMaintenance]]). One hardened implementation
  * of the storage seam, so a fix or a contract test lands once:
  *
  *  - [[StateProtocol.StateDir]]: the FS dispatch (java.io fast path
  *    for plain paths, Hadoop FileSystem for scheme-carrying ones) with
  *    one-listing child enumeration, EOF-bounded pointer reads, and
  *    atomic small-file swaps.
  *  - [[StateProtocol.commitVersion]]: stage → publish → pointer swap →
  *    chain-aware GC → orphan reaping, with the fail-safe postures the
  *    index protocol accumulated (torn-publish replacement, dir-guarded
  *    version enumeration, GC only below a positively-identified base).
  *  - [[StateProtocol.WriterLease]]: OPTIONAL epoch fencing for the
  *    single-writer contract. The protocol is single-writer by design
  *    (one streaming query owns a stateDir — that is what makes torn
  *    dest replacement and orphan reaping safe); the lease turns a
  *    VIOLATION of that contract from silent corruption (interleaved
  *    pointer swaps, two writers GC'ing each other's live bases) into a
  *    loud failure of the superseded writer. Acquire bumps the epoch in
  *    a WRITER file; every commit re-reads it before the version
  *    publish, before the pointer swap, and before GC — a writer whose
  *    epoch was superseded throws [[StateProtocol.FencedException]] and
  *    leaves committed state untouched. Rename-based stores have no
  *    compare-and-swap, so a check-then-act window narrower than one
  *    small-file read remains — the lease bounds damage to "at most one
  *    in-flight commit per fenced writer", the same guarantee a
  *    fencing-token design gives any non-transactional store.
  *
  * Error posture (deliberately asymmetric to ModelStore's): the store
  * swallows FS errors because its degrade path is a refit; here the
  * degrade path would be GC'ing live state or re-seeding a live
  * stateDir, so only a positive does-not-exist maps to false/None/empty
  * and every other FS failure propagates loudly. */
private[graft] object StateProtocol {

  private def hadoopConf = graft.ops.ModelStore.hadoopConf

  sealed trait StateDir {
    /** The state dir itself, as given (error messages). */
    def rootPath: String
    /** Child path string, scheme-preserving (for ModelStore.loc). */
    def path(sub: String): String
    /** Child path for `spark.read`/`df.write`. */
    def sparkPath(sub: String): String
    def isDir(sub: String): Boolean
    /** (name, isDirectory) of direct children in ONE listing, empty when
      * absent — the version protocol's only enumeration primitive, so a
      * remote namenode/object store pays one round-trip per listing
      * instead of a stat per child. */
    def children: Seq[(String, Boolean)]
    def readSmall(name: String): Option[String]
    /** Write `content` to a temp child then rename onto `destName` —
      * atomic on POSIX/HDFS, the scheme's own contract elsewhere. */
    def writeSmallAtomic(tmpName: String, destName: String,
                         content: String): Unit
    def deleteFile(name: String): Unit
    def mkdirs(): Unit
  }

  final case class LocalStateDir(root: File) extends StateDir {
    def rootPath: String = root.getAbsolutePath
    def path(sub: String): String = new File(root, sub).getAbsolutePath
    def sparkPath(sub: String): String = "file:" + path(sub)
    def isDir(sub: String): Boolean = new File(root, sub).isDirectory
    def children: Seq[(String, Boolean)] =
      Option(root.listFiles())
        .map(_.map(f => f.getName -> f.isDirectory).toSeq).getOrElse(Seq.empty)
    def readSmall(name: String): Option[String] = {
      val f = new File(root, name)
      if (!f.isFile) None
      else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    }
    def writeSmallAtomic(tmpName: String, destName: String,
                         content: String): Unit = {
      val t = new File(root, tmpName)
      java.nio.file.Files.write(t.toPath,
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(t.toPath, new File(root, destName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def deleteFile(name: String): Unit =
      java.nio.file.Files.deleteIfExists(new File(root, name).toPath)
    def mkdirs(): Unit = { root.mkdirs(); () }
  }

  final case class FsStateDir(root: org.apache.hadoop.fs.Path)
      extends StateDir {
    private def fs = root.getFileSystem(hadoopConf)
    private def p(sub: String) = new org.apache.hadoop.fs.Path(root, sub)
    def rootPath: String = root.toString
    def path(sub: String): String = p(sub).toString
    def sparkPath(sub: String): String = path(sub)
    // only a positive does-not-exist is a negative answer; a throttled
    // namenode or S3 outage must FAIL the caller, not read as "empty
    // state" — that misread feeds GC (base loss) and init's re-seed
    // guard (pointer rollback), both unrecoverable
    def isDir(sub: String): Boolean =
      try fs.getFileStatus(p(sub)).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    def children: Seq[(String, Boolean)] =
      try fs.listStatus(root).map(s => s.getPath.getName -> s.isDirectory).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    def readSmall(name: String): Option[String] =
      try {
        // read to EOF, no stat: a stat-then-sized-read races the
        // pointer swap (content length can change between the two)
        val in = fs.open(p(name))
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](256)
          var r = in.read(buf)
          while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
          Some(out.toString(java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    def writeSmallAtomic(tmpName: String, destName: String,
                         content: String): Unit = {
      val out = fs.create(p(tmpName), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // FileSystem.rename refuses an existing destination; FileContext
      // rename with OVERWRITE is the pointer-swap primitive (atomic on
      // HDFS and local, the scheme's own contract on object stores)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        root.toUri, hadoopConf)
      fc.rename(p(tmpName), p(destName),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    def deleteFile(name: String): Unit =
      try { fs.delete(p(name), false); () }
      catch { case scala.util.control.NonFatal(_) => () }
    def mkdirs(): Unit = { fs.mkdirs(root); () }
  }

  /** Same scheme-dispatch rule as [[graft.ops.ModelStore.loc]] — the
    * SAME helper, so the two can never desynchronize. */
  def stateFs(stateDir: String): StateDir =
    if (graft.ops.ModelStore.hasScheme(stateDir))
      FsStateDir(new org.apache.hadoop.fs.Path(stateDir))
    else LocalStateDir(new File(stateDir))

  /** Committed version ids from a pre-fetched children listing,
    * ascending. The is-directory check keeps a stray FILE named
    * v<digits> (operator note, scp artifact) from being read as a
    * committed version — on the READ side and, via [[commitVersion]]
    * reusing this same filter, on the GC side: a stray file must
    * neither consume a keepVersions slot nor be deleted. */
  def committedOf(children: Seq[(String, Boolean)]): Seq[Long] =
    children
      .filter { case (n, d) => d && n.startsWith("v") && !n.contains(".tmp") }
      .flatMap(_._1.drop(1).toLongOption).sorted

  /** Committed version ids present on disk, ascending — one listing. */
  def committedVersions(sd: StateDir): Seq[Long] =
    committedOf(sd.children)

  /** The committed version id, or None before init. */
  def latestVersion(sd: StateDir): Option[Long] =
    sd.readSmall("LATEST").flatMap(_.trim.toLongOption)

  /** The version's resolution chain `[base, d1, …, dn=v]` as recorded
    * INSIDE the version dir at commit time (so it publishes atomically
    * with the version). This is what makes READS independent of
    * directory listings: on a list-after-write-lagging store (S3-class)
    * a listing can omit a just-committed delta, and a fold that
    * discovered its chain by listing would silently skip it — a partial
    * read with no signal. The chain file travels with the data; a
    * reader that can open the version can resolve it exactly. `None`
    * only for pre-chain-file state dirs (the documented listing
    * fallback). */
  def chainOf(sd: StateDir, v: Long): Option[Seq[Long]] =
    sd.readSmall(s"v$v/chain")
      .map(_.trim.split(',').toSeq.map(_.trim.toLong))

  // =====================================================================
  // Writer fencing
  // =====================================================================

  /** A fencing token: the epoch this writer holds on a stateDir. Opaque
    * to callers — acquire one with [[acquireWriter]], pass it to every
    * apply/commit on that stateDir. */
  final case class WriterLease private[StateProtocol] (
      epoch: Long, writerId: String) {
    private[StateProtocol] def render: String = s"$epoch $writerId"
  }

  /** A superseded writer's named failure — committed state is intact;
    * the stream owning the NEWER lease carries on. */
  final class FencedException(msg: String) extends RuntimeException(msg)

  private def currentWriter(sd: StateDir): Option[(Long, String)] =
    sd.readSmall("WRITER").map(_.trim).flatMap { s =>
      val i = s.indexOf(' ')
      if (i <= 0) None
      else s.take(i).toLongOption.map(_ -> s.drop(i + 1))
    }

  /** Take over as THE writer for `stateDir`: bump the fencing epoch so
    * every previously-acquired lease is superseded — its next commit
    * fails with [[FencedException]] instead of interleaving pointer
    * swaps or GC'ing this writer's live bases. Acquire is itself
    * last-write-wins on a rename store; the read-back turns a lost
    * acquire race into a loud failure here rather than a corrupt
    * stateDir later. */
  def acquireWriter(stateDir: String): WriterLease = {
    val sd = stateFs(stateDir)
    sd.mkdirs()
    val next = currentWriter(sd).map(_._1).getOrElse(0L) + 1L
    val lease = WriterLease(next, java.util.UUID.randomUUID().toString)
    sd.writeSmallAtomic(s".WRITER.tmp.${lease.writerId}", "WRITER",
      lease.render)
    val back = currentWriter(sd)
    if (!back.contains((lease.epoch, lease.writerId)))
      throw new FencedException(s"lost the writer-acquire race on " +
        s"$stateDir: wrote epoch ${lease.epoch} but read back " +
        s"${back.fold("nothing")(w => s"epoch ${w._1} (writer ${w._2})")}")
    lease
  }

  /** Fail loudly if `lease` is no longer the stateDir's writer. A
    * `None` lease is the legacy single-writer-by-contract mode: no
    * check, the caller owns the discipline. */
  def checkWriter(sd: StateDir, lease: Option[WriterLease],
                  at: String): Unit =
    lease.foreach { l =>
      val cur = currentWriter(sd)
      if (!cur.contains((l.epoch, l.writerId)))
        throw new FencedException(s"writer fenced out at $at on " +
          s"${sd.rootPath}: this writer holds epoch ${l.epoch} (writer " +
          s"${l.writerId}) but the stateDir says " +
          s"${cur.fold("no writer")(w => s"epoch ${w._1} (writer ${w._2})")}" +
          " — another maintenance stream took over this stateDir; " +
          "stop this one (committed state is intact)")
    }

  // =====================================================================
  // Commit
  // =====================================================================

  /** Stage artifacts for version `v` (via `writeTmp` into the staging
    * dir), publish them, swap the LATEST pointer, GC, and reap staging
    * orphans. `isBase(ver)` tells the GC which versions carry a full
    * snapshot — the chain cutoff extends down to the base of the oldest
    * count-kept version so a kept delta's whole chain stays resolvable.
    *
    * Single-writer by contract (optionally ENFORCED via `lease`): that
    * is what makes dropping a pre-existing dest and reaping foreign
    * staging leftovers safe. */
  def commitVersion(sd: StateDir, v: Long, keepVersions: Int,
                    isBase: Long => Boolean,
                    lease: Option[WriterLease],
                    chain: Seq[Long])
                   (writeTmp: graft.ops.ModelStore.Loc => Unit): Unit = {
    require(chain.lastOption.contains(v),
      s"chain ${chain.mkString(",")} must end at the committed version $v")
    // fence BEFORE the expensive distributed writes: a superseded
    // writer should die at the first commit attempt, not after staging
    // a full version it will never publish
    checkWriter(sd, lease, "version stage")
    val dest = graft.ops.ModelStore.loc(sd.path(s"v$v"))
    // a pre-existing dest here is BY DEFINITION a crashed earlier
    // publish of this same version (the caller only reaches commit when
    // v > pointer, and the pointer swap is the commit): on copy-rename
    // schemes the leftover can be a TORN copy, and publish's
    // keep-the-winner short-circuit would then commit the torn dir
    // forever — drop it and publish the fresh staging instead
    // (single-writer contract makes this safe)
    if (dest.exists) graft.ops.ModelStore.drop(dest)
    val tmp = graft.ops.ModelStore.staging(dest)
    writeTmp(tmp)
    // the chain file rides INSIDE the staged dir so it publishes
    // atomically with the version's data — see [[chainOf]]
    sd.writeSmallAtomic(s"${tmp.name}/chain.tmp", s"${tmp.name}/chain",
      chain.mkString(","))
    // fence between publish and the pointer swap — the swap is the
    // commit, so this is the last cheap exit before the protocol's one
    // irreversible step
    checkWriter(sd, lease, "pointer swap")
    graft.ops.ModelStore.publish(tmp, dest)
    val ptmp = s".LATEST.tmp.${tmp.name}"
    sd.writeSmallAtomic(ptmp, "LATEST", v.toString)
    val kids = sd.children
    val names = kids.map(_._1)
    // GC committed versions: keep v plus the previous keepVersions - 1
    // by count, EXTENDED down to the base of the oldest count-kept
    // version — a kept delta version is only readable with its base and
    // the deltas between, so the cutoff is that base, not the count
    // boundary. In full mode every version is a base and this is
    // exactly keep-the-newest-keepVersions. The candidate set is
    // committedOf (directory-guarded), SAME filter as the read path: a
    // stray FILE named v<digits> must neither consume a keepVersions
    // slot (pushing oldestKept past a live base a lagging reader is
    // entitled to) nor be GC'd itself.
    val committed = committedOf(kids)
    val oldestKept = (v +: committed.filter(_ < v).sorted.reverse
      .take(math.max(0, keepVersions - 1))).min
    // fence before the DESTRUCTIVE step: GC under a superseded lease is
    // the corruption path the lease exists to close (deleting the new
    // writer's live bases)
    checkWriter(sd, lease, "GC")
    // FAIL-SAFE: GC only when a base at-or-below the oldest kept version
    // is POSITIVELY identified. No visible base means either a fresh
    // state (nothing to drop anyway) or an FS blip that hid it — and a
    // cutoff guessed without a base could drop the very base the kept
    // deltas need. Skipping costs disk until the next commit retries.
    committed
      .filter(ver => ver <= oldestKept && isBase(ver))
      .maxOption.foreach { cutoff =>
        committed.filter(_ < cutoff).foreach { ver =>
          graft.ops.ModelStore.drop(graft.ops.ModelStore.loc(sd.path(s"v$ver")))
        }
      }
    // reap staging orphans from crashed earlier attempts: our own tmp was
    // just renamed away, so any surviving *.tmp-* dir or .LATEST.tmp.*
    // file belongs to a commit that died mid-write (single-writer
    // contract — nothing else can be staging here concurrently)
    names.filter(n => n.contains(".tmp-") && !n.startsWith(".LATEST") &&
        n != tmp.name)
      .foreach(n =>
        graft.ops.ModelStore.drop(graft.ops.ModelStore.loc(sd.path(n))))
    names.filter(n => n.startsWith(".LATEST.tmp.") && n != ptmp)
      .foreach(sd.deleteFile)
    // a .WRITER.tmp.* is never a live artifact once WRITER exists: the
    // acquire renames it away on success, so a survivor is a crashed
    // acquire (or a rival mid-acquire, whose rename then fails LOUDLY
    // in acquireWriter and retries — the fencing race already owns
    // that window)
    names.filter(_.startsWith(".WRITER.tmp.")).foreach(sd.deleteFile)
  }
}
