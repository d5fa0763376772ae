package graft.ops

import java.io.{DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Disk persistence for the cached-fit model family (IVF coarse centers,
  * PQ codebooks, BPE merge tables, served kNN graphs, BM25 postings) —
  * the L2 under the per-JVM ConcurrentHashMap L1s in [[Similarity]] /
  * [[graft.ml.Retrieval]].
  *
  * Why it exists: the in-memory caches amortize a fit WITHIN one JVM, but
  * every new driver (a fresh Verify/Bench/serving process) pays the cold
  * fit again — measured at 0.9–1.5 s locally (bench `cold` column: q55
  * 1.51 s, q76 1.48 s) and far more at production model sizes. Persisting
  * the fitted artifact keyed by the SAME corpus-fingerprint string the L1
  * uses turns "the fit amortizes" from a per-JVM accident into a
  * mechanism: first process fits and publishes, every later process loads.
  *
  * Bit-fidelity contract: models are written as raw IEEE-754 bits
  * (`writeDouble`/`readDouble` round-trip doubles exactly) plus exact
  * ints/longs/UTF strings, so a model served from disk produces output
  * BYTE-IDENTICAL to the in-memory fit — ModelStoreSpec pins the
  * round-trip and the serve-path equality; the committed ANN fixtures
  * (q55/q75/q76) would catch any drift at the correctness gate.
  *
  * Publication protocol: write to a process-unique `*.tmp` sibling, then
  * atomic rename into place — concurrent fitters race benignly (last
  * rename wins with identical bytes; readers only ever see a complete
  * file). Staleness: keys embed the corpus CONTENT FINGERPRINT
  * ([[fingerprint]]: row count + an order-independent xxhash64 digest
  * of every (id, payload) row), so both row-count changes AND
  * same-count in-place rewrites re-key; [[clear]] remains the explicit
  * full-wipe hook.
  *
  * Location: `SPARK_GRAFT_MODEL_DIR`; set it to the empty string to
  * disable persistence entirely (every fit stays in-process — the prior
  * rounds' behavior). Two backends, selected by the configured string:
  *
  *  - A plain POSIX path (no URI scheme) uses java.io + atomic rename.
  *    The default is PER-USER: `/tmp/graft_models-<user.name>`, created
  *    `0700` — a world-writable shared default would let any local user
  *    pre-create the directory and plant artifacts at predictable key
  *    hashes (keys are computable from public corpus paths), silently
  *    poisoning every later process's models. For the same reason a
  *    POSIX store dir NOT OWNED by the current user is refused (one
  *    stderr warning, then the store degrades to disabled). On a
  *    multi-node cluster the path must be a mount visible to driver and
  *    executors alike (NFS/Lustre).
  *  - A URI with a scheme (`file:/...`, `hdfs://...`, `s3a://...`) goes
  *    through the Hadoop FileSystem API end to end: `fs.create` +
  *    `fs.rename` publish for the `.bin` models, `fs.rename` of the
  *    staged directory for parquet artifacts. Rename atomicity is
  *    whatever the scheme provides — atomic on HDFS, copy-then-delete on
  *    S3A, where the residual contract is "readers of a half-published
  *    artifact fail the read and refit" (the same torn-file degrade path
  *    as local). Trust follows the filesystem's own permissions; the
  *    POSIX ownership check does not apply.
  *
  * Every store failure is BEST-EFFORT degraded: an unwritable store costs
  * the amortization, a corrupt artifact is dropped and refit — the store
  * can slow a query, never fail it. */
object ModelStore {

  /** Test seam: when set, takes precedence over SPARK_GRAFT_MODEL_DIR.
    * The test harness points this at a per-JVM temp dir (deleted on
    * exit) so suites stay hermetic — unique-keyed spec fits would
    * otherwise accumulate in the per-user default dir forever. */
  @volatile var overrideDir: Option[String] = None

  /** Storage backend: a local POSIX directory (java.io, atomic rename)
    * or a Hadoop-FileSystem path (any scheme Spark can read back). */
  private sealed trait Backend
  private final case class LocalBackend(dir: File) extends Backend
  private final case class FsBackend(dir: HPath) extends Backend

  private def rawLocation: String = overrideDir.getOrElse(
    sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR",
      "/tmp/graft_models-" + sys.props.getOrElse("user.name", "nouser")))

  /** RFC-3986 scheme prefix — selects the Hadoop FileSystem backend.
    * (Plain absolute paths like `/tmp/x` have no scheme.) Shared with
    * [[graft.streaming.IndexMaintenance]] so the store and the state
    * protocol can never desynchronize their dispatch rule. */
  private[graft] def hasScheme(s: String): Boolean =
    s.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*")

  private[graft] def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  @volatile private var warnedForeign: Set[String] = Set.empty

  /** Create-if-absent a POSIX store dir with 0700, then REFUSE a dir the
    * current user does not own (symlink/pre-creation poisoning guard:
    * an attacker-owned dir under /tmp would let them plant artifacts at
    * predictable key hashes and redirect deletes through symlinks). */
  private def refuse(raw: String, why: String): Option[File] = {
    if (!warnedForeign.contains(raw)) synchronized {
      if (!warnedForeign.contains(raw)) {
        warnedForeign += raw
        System.err.println(s"[graft] ModelStore disabled: $raw $why " +
          "(set SPARK_GRAFT_MODEL_DIR to a plain dir you own)")
      }
    }
    None
  }

  private def securedLocalDir(raw: String): Option[File] = {
    val f = new File(raw)
    // refuse a SYMLINK outright, before following it anywhere: an
    // attacker-planted link at the predictable per-user path would
    // otherwise redirect writes — and clear()'s recursive DELETE — into
    // whatever victim-owned directory it points at, and the ownership
    // check below (which follows links) would happily approve it
    if (Files.isSymbolicLink(f.toPath))
      return refuse(raw, "is a symlink — refusing a redirectable model store")
    if (!f.isDirectory) {
      try Files.createDirectories(f.toPath,
        java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
          java.nio.file.attribute.PosixFilePermissions.fromString("rwx------")))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    if (!f.isDirectory) None
    else {
      val me = sys.props.getOrElse("user.name", "")
      val owner =
        try Some(Files.getOwner(f.toPath).getName)
        catch { case scala.util.control.NonFatal(_) => None }
      // FAIL CLOSED: a guard that cannot establish ownership must not
      // admit the dir — unreadable ownership is indistinguishable from
      // the poisoning case it exists to refuse
      if (owner.contains(me)) Some(f)
      else refuse(raw, s"is owned by ${owner.getOrElse("<unreadable>")}, " +
        s"not $me — refusing a foreign-owned model store")
    }
  }

  /** Resolved backend, or None when disabled (empty location, uncreatable
    * dir, or a foreign-owned POSIX dir). Re-resolved when the configured
    * location changes; otherwise one cached stat-free answer. */
  @volatile private var resolvedFor: (String, Option[Backend]) = ("\u0000", None)
  private def backend: Option[Backend] = {
    val raw = rawLocation
    val cached = resolvedFor
    if (cached._1 == raw && cached._2.isDefined) cached._2
    else {
      val b: Option[Backend] =
        if (raw.isEmpty) None
        else if (hasScheme(raw)) {
          try {
            val p = new HPath(raw)
            val fs = p.getFileSystem(hadoopConf)
            fs.mkdirs(p)
            Some(FsBackend(fs.makeQualified(p)))
          } catch { case scala.util.control.NonFatal(_) => None }
        } else securedLocalDir(raw).map(LocalBackend.apply)
      // memoize SUCCESS only: a transient failure (namenode briefly
      // unreachable, dir not yet mountable) must retry on the next
      // access, not pin a long-lived serving process to "disabled"
      // forever. Refusals stay cheap to re-derive (one stat) and the
      // warnedForeign set keeps them one-warning loud.
      if (b.isDefined) resolvedFor = (raw, b)
      b
    }
  }

  /** Local-backend base dir (compat accessor for callers that manage
    * their own java.io artifacts under the store root). */
  def baseDir: Option[File] = backend.collect { case LocalBackend(d) => d }

  /** CONTENT fingerprint of a corpus frame for store keys: (row count,
    * order-independent digest) in one aggregate job. The digest is
    * `sum(xxhash64(cols…))` carried in DECIMAL(38,0) — exact and
    * overflow-free to ~10³¹ row-hash mass (ANSI mode would throw on a
    * BIGINT sum of uniform 64-bit hashes after a handful of rows), and
    * sum rather than bit_xor so duplicate rows don't cancel pairwise.
    * This is what closes the same-count-rewrite hazard the row-count
    * keys carried: an in-place corpus rewrite at unchanged cardinality
    * now re-keys every dependent artifact, so the store refits instead
    * of serving the stale model. Price: one full scan of the named
    * columns per cold key resolution — the digest must read content by
    * definition; per-JVM the L1 caches amortize it, and callers still
    * skip it entirely when the store is disabled. */
  def fingerprint(df: org.apache.spark.sql.DataFrame,
                  cols: org.apache.spark.sql.Column*): (Long, String) = {
    val memoKey = fpMemoKey(df, cols)
    memoKey.flatMap(k => Option(fpMemo.get(k))) match {
      case Some(v) => v
      case None =>
        import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
        val r = df.agg(count(lit(1)),
          sum(xxhash64(cols: _*).cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
        val v = (r.getLong(0),
          if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
        memoKey.foreach { k =>
          // at cap, evict ONE entry instead of wiping the map: a
          // long-lived serving JVM crossing 4096 distinct plan/file-state
          // pairs keeps most of its entries instead of re-paying every
          // fingerprint scan after a wholesale clear (round-16 ADVICE).
          // The victim is whatever the key iterator yields first —
          // arbitrary, not least-recently-used, so a hot key can go —
          // and two concurrent inserts can both evict, briefly leaving
          // the map one under the cap; both are harmless for a cache.
          if (fpMemo.size >= FpMemoCap) {
            val it = fpMemo.keySet().iterator()
            if (it.hasNext) { it.next(); it.remove() }
          }
          fpMemo.put(k, v)
        }
        v
    }
  }

  /** In-JVM fingerprint memo (round-16, guide §1.2 "don't compute things
    * you throw away"): every warm store resolution was re-paying the
    * content-digest scan — one full pass over the corpus columns per
    * invocation, across ~14 declared queries — to re-derive a value that
    * cannot have changed while the inputs' files haven't. The memo key is
    * (canonicalized analyzed plan of `df.select(cols…)`) × (sorted
    * per-file path:length:mtime signature of every input file), so it is
    * metadata-staleness caching, NOT result caching: any content change
    * that today's fingerprint would see arrives through a file rewrite,
    * which changes length or mtime and re-keys the memo (the same
    * invalidation contract as Spark's own file-index and block caches).
    * The residual accepted risk — an in-place same-length rewrite within
    * one mtime quantum, inside one JVM — is strictly narrower than the
    * cross-process staleness the fingerprint exists to close, and the
    * digest itself is still computed (and persisted keys still carry it)
    * on every first sight of a plan/file-state pair. Frames with no file
    * inputs (test LocalRelations, checkpointed RDDs) and lakes with
    * pathological file counts skip the memo and pay the scan as before.
    * `SPARK_GRAFT_FP_MEMO=0` disables; [[clear]] wipes it so the bench
    * cold column keeps pricing a true new-JVM start. */
  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  private val FpMemoCap = 4096
  private val FpMemoMaxFiles = 8192

  private def fpMemoKey(df: org.apache.spark.sql.DataFrame,
                        cols: Seq[org.apache.spark.sql.Column]): Option[String] =
    try {
      if (sys.env.get("SPARK_GRAFT_FP_MEMO").contains("0")) return None
      // only memoize when EVERY leaf of the analyzed plan is a file-source
      // relation: `inputFiles` being non-empty does not preclude extra
      // non-file leaves (LocalRelation, localCheckpoint LogicalRDDs) whose
      // row content can change without touching any file signature — a
      // frame mixing file and in-memory inputs must pay the digest scan
      // (round-16 ADVICE: keep the utility's content-fingerprint contract)
      val leaves = df.queryExecution.analyzed.collectLeaves()
      val allFileBacked = leaves.nonEmpty && leaves.forall {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        case _ => false
      }
      if (!allFileBacked) return None
      val files = df.inputFiles
      if (files.isEmpty || files.length > FpMemoMaxFiles) return None
      val conf = hadoopConf
      val sig = new StringBuilder
      files.sorted.foreach { p =>
        val hp = new HPath(p)
        val st = hp.getFileSystem(conf).getFileStatus(hp)
        sig.append(p).append(':').append(st.getLen).append(':')
          .append(st.getModificationTime).append('\n')
      }
      val plan = df.select(cols: _*).queryExecution.analyzed.canonicalized.toString
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(plan.getBytes("UTF-8"))
      md.update(sig.toString.getBytes("UTF-8"))
      Some(md.digest().map("%02x".format(_)).mkString)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** True when some backend is live — callers use this to skip the
    * fingerprint job entirely when persistence is off. */
  def enabled: Boolean = backend.isDefined

  /** Remove every persisted model — the disk analog of
    * [[Similarity.clearCaches]], now needed only to reclaim space or
    * force refits (content-fingerprint keys made same-count rewrites
    * self-invalidating). */
  def clear(): Unit = {
    fpMemo.clear()
    backend.foreach {
    case LocalBackend(d) =>
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) deleteRecursively(f) else f.delete()
      }
    case FsBackend(dir) =>
      try {
        val fs = dir.getFileSystem(hadoopConf)
        fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Format/algorithm version folded into every key: the store outlives
    * the process, so a change to any FIT algorithm (k-means recipe, BPE
    * argmax order, graph build) must bump this or stale disk models would
    * silently mask the code change across rounds. v2: content-fingerprint
    * keys + auto-selected graph builds (round 14). */
  private val Version = "v2"

  private def hashOf(key: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$Version|$key".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(32)
  }

  // =====================================================================
  // Directory-shaped artifacts (parquet graphs/postings, MLlib dirs) —
  // scheme-neutral handles so serving code is identical over a POSIX
  // mount and an HDFS/S3 store.
  // =====================================================================

  /** Handle to a directory-shaped artifact slot: existence, the path
    * Spark's reader/writer understands, and child-artifact paths. The
    * slot only ever APPEARS via [[publish]]'s rename of a fully-written
    * staging dir, so existence implies completeness on atomic-rename
    * schemes (and on copy-rename schemes like S3A a torn read lands in
    * the caller's drop-and-refit path). */
  sealed trait Loc {
    def exists: Boolean
    /** Path for `spark.read`/`df.write`. */
    def spark: String
    def child(name: String): String = spark + "/" + name
    /** Last path segment (the artifact/staging dir name). */
    def name: String
  }
  private final case class LocalLoc(f: File) extends Loc {
    def exists: Boolean = f.isDirectory
    def spark: String = "file:" + f.getAbsolutePath
    def name: String = f.getName
  }
  private final case class FsLoc(p: HPath) extends Loc {
    def exists: Boolean =
      try p.getFileSystem(hadoopConf).getFileStatus(p).isDirectory
      catch { case scala.util.control.NonFatal(_) => false }
    def spark: String = p.toString
    def name: String = p.getName
  }

  /** CALLER-OWNED path → [[Loc]], backend selected by scheme: a plain
    * absolute path stays on java.io (atomic POSIX rename), a
    * scheme-carrying one (`file:`, `hdfs://`, `s3a://`) routes through
    * the Hadoop FileSystem API. Unlike [[dirLoc]] this does NOT resolve
    * through the store's configured location or its ownership guards —
    * the caller owns the path (the streaming index state dir). */
  def loc(path: String): Loc =
    if (hasScheme(path)) FsLoc(new HPath(path)) else LocalLoc(new File(path))

  private def artifactName(kind: String, key: String): String =
    s"$kind-${hashOf(key)}"

  /** Resolve the slot for a directory artifact; None when disabled. */
  def dirLoc(kind: String, key: String): Option[Loc] = backend.map {
    case LocalBackend(d) => LocalLoc(new File(d, artifactName(kind, key)))
    case FsBackend(dir) => FsLoc(new HPath(dir, artifactName(kind, key)))
  }

  private def uniqSuffix: String =
    s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}"

  /** Process-unique staging sibling for a [[dirLoc]] slot. */
  def staging(dest: Loc): Loc = dest match {
    case LocalLoc(f) => LocalLoc(new File(f.getParentFile, f.getName + uniqSuffix))
    case FsLoc(p) => FsLoc(new HPath(p.getParent, p.getName + uniqSuffix))
  }

  /** Publish a fully-written staging dir into its slot (rename; a
    * concurrent winner's identical output is kept and our staging is
    * reaped). Atomicity is the scheme's: POSIX/HDFS atomic, S3A
    * copy-then-delete (readers of a torn publish fail and refit). */
  def publish(tmp: Loc, dest: Loc): Unit = (tmp, dest) match {
    case (LocalLoc(t), LocalLoc(d)) =>
      if (!t.renameTo(d) && !d.isDirectory)
        throw new java.io.IOException(s"cannot publish $t -> $d")
      if (t.exists()) deleteRecursively(t)
    case (FsLoc(t), FsLoc(d)) =>
      val fs = t.getFileSystem(hadoopConf)
      // Hadoop rename of a dir ONTO an existing dir moves the source
      // INTO it (POSIX-mv semantics) — a losing concurrent publisher
      // would nest its staging copy inside the live artifact instead of
      // failing like java.io renameTo does. Check first, and clean up
      // the nested copy if the race slips between check and rename.
      if (fs.exists(d)) { fs.delete(t, true); return }
      if (!fs.rename(t, d) && !fs.exists(d))
        throw new java.io.IOException(s"cannot publish $t -> $d")
      val nested = new HPath(d, t.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      if (fs.exists(t)) fs.delete(t, true)
    case _ => throw new IllegalArgumentException("mixed-backend publish")
  }

  /** Best-effort removal of a persisted dir artifact — the invalidation
    * hook for a corrupt or format-incompatible model dir: drop it so
    * this and every later process refits instead of tripping on the
    * same bytes forever. */
  def drop(loc: Loc): Unit = loc match {
    case LocalLoc(f) =>
      try deleteRecursively(f)
      catch { case scala.util.control.NonFatal(_) => () }
    case FsLoc(p) =>
      try { p.getFileSystem(hadoopConf).delete(p, true); () }
      catch { case scala.util.control.NonFatal(_) => () }
  }

  // =====================================================================
  // .bin model artifacts (centers / PQ / BPE merges)
  // =====================================================================

  private def binName(kind: String, key: String): String =
    s"$kind-${hashOf(key)}.bin"

  /** Stage-write + rename a small binary model into the store; every
    * failure (unwritable store, concurrent winner, full disk) degrades
    * to "not persisted" — the fit in hand still serves this JVM. */
  private def atomicWrite(kind: String, key: String)
                         (body: DataOutputStream => Unit): Unit =
    backend.foreach {
      case LocalBackend(d) =>
        val dest = new File(d, binName(kind, key))
        val tmp = new File(d, binName(kind, key) + uniqSuffix)
        try {
          val out = new DataOutputStream(
            new java.io.BufferedOutputStream(new FileOutputStream(tmp)))
          try body(out) finally out.close()
          try Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException =>
            // a concurrent fitter won the rename with identical bytes
            tmp.delete()
          }
        } catch { case scala.util.control.NonFatal(_) =>
          // the disk cache is OPPORTUNISTIC: an unwritable store must
          // cost the amortization, never the query
          tmp.delete(); ()
        }
      case FsBackend(dir) =>
        val dest = new HPath(dir, binName(kind, key))
        val tmp = new HPath(dir, binName(kind, key) + uniqSuffix)
        try {
          val fs = dir.getFileSystem(hadoopConf)
          val out = new DataOutputStream(
            new java.io.BufferedOutputStream(fs.create(tmp, true)))
          try body(out) finally out.close()
          if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
        } catch { case scala.util.control.NonFatal(_) =>
          try dir.getFileSystem(hadoopConf).delete(tmp, false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }

  /** Sanity bound on a length prefix read from disk. Two gates: an
    * absolute cap, and the IMPLIED BYTE SIZE vs the artifact's actual
    * length — `Array.fill(n)` allocates up front, before EOF can fire,
    * so without the length cross-check a corrupt/poisoned SMALL file
    * could still drive a multi-GB allocation (OutOfMemoryError is an
    * Error and would escape the NonFatal delete-and-refit catch). With
    * it, allocation per prefix is bounded by the real file size. */
  private def chk(n: Int, fileLen: Long, elemBytes: Int): Int =
    if (n < 0 || n > (1 << 27) || n.toLong * elemBytes > fileLen)
      throw new java.io.IOException(
        s"implausible length prefix $n (file is $fileLen bytes)")
    else n

  /** Open-read-close a bin artifact; `body` receives the stream and the
    * artifact's byte length (for [[chk]]'s allocation bound). A torn or
    * corrupt file is DELETED so the next process refits cleanly instead
    * of tripping on the same bytes forever. */
  private def read[A](kind: String, key: String)
                     (body: (DataInputStream, Long) => A): Option[A] =
    backend.flatMap {
      case LocalBackend(d) =>
        val f = new File(d, binName(kind, key))
        if (!f.isFile) None
        else {
          try {
            val len = f.length()
            val in = new DataInputStream(
              new java.io.BufferedInputStream(new FileInputStream(f)))
            try Some(body(in, len)) finally in.close()
          } catch { case scala.util.control.NonFatal(_) =>
            f.delete(); None
          }
        }
      case FsBackend(dir) =>
        val p = new HPath(dir, binName(kind, key))
        try {
          val fs = dir.getFileSystem(hadoopConf)
          if (!fs.exists(p)) None
          else {
            val len = fs.getFileStatus(p).getLen
            val in = new DataInputStream(
              new java.io.BufferedInputStream(fs.open(p)))
            try Some(body(in, len))
            catch { case scala.util.control.NonFatal(_) =>
              try fs.delete(p, false)
              catch { case scala.util.control.NonFatal(_) => () }
              None
            } finally in.close()
          }
        } catch { case scala.util.control.NonFatal(_) => None }
    }

  // ---- centers: Array[Array[Double]] (IVF coarse quantizer) -----------

  def saveCenters(key: String, centers: Array[Array[Double]]): Unit =
    atomicWrite("centers", key) { out =>
      out.writeInt(centers.length)
      centers.foreach { row =>
        out.writeInt(row.length)
        row.foreach(out.writeDouble)
      }
    }

  def loadCenters(key: String): Option[Array[Array[Double]]] =
    read("centers", key) { (in, len) =>
      Array.fill(chk(in.readInt(), len, 4))(
        Array.fill(chk(in.readInt(), len, 8))(in.readDouble()))
    }

  // ---- PQ codebooks ---------------------------------------------------

  def savePq(key: String, pq: Similarity.PqModel): Unit =
    atomicWrite("pq", key) { out =>
      out.writeInt(pq.m); out.writeInt(pq.ks); out.writeInt(pq.dsub)
      pq.codebooks.foreach { book =>
        out.writeInt(book.length)
        book.foreach { row =>
          out.writeInt(row.length)
          row.foreach(out.writeDouble)
        }
      }
    }

  def loadPq(key: String): Option[Similarity.PqModel] =
    read("pq", key) { (in, len) =>
      val m = chk(in.readInt(), len, 4)
      val ks = in.readInt(); val dsub = in.readInt()
      val books = Array.fill(m)(
        Array.fill(chk(in.readInt(), len, 4))(
          Array.fill(chk(in.readInt(), len, 8))(in.readDouble())))
      Similarity.PqModel(m, ks, dsub, books)
    }

  // ---- BPE merge tables ----------------------------------------------

  def saveMerges(key: String, merges: Seq[Bpe.Merge]): Unit =
    atomicWrite("bpe", key) { out =>
      out.writeInt(merges.length)
      merges.foreach { m =>
        out.writeInt(m.rank); out.writeUTF(m.left); out.writeUTF(m.right)
        out.writeLong(m.pair_count)
      }
    }

  def loadMerges(key: String): Option[Seq[Bpe.Merge]] =
    read("bpe", key) { (in, len) =>
      Seq.fill(chk(in.readInt(), len, 8))(
        Bpe.Merge(in.readInt(), in.readUTF(), in.readUTF(), in.readLong()))
    }
}
