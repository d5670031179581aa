package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem face of the persisted-store family — [[PointStore]],
  * [[graft.operators.DedupIndex]] and [[graft.operators.IvfIndex]] all
  * route their manifest/member path handling through this one wrapper
  * over the Hadoop `FileSystem` API, so a store directory may live on ANY
  * Hadoop filesystem: `file://` in this sandbox, `hdfs://` / `s3a://` on a
  * cluster. The data members always could (they are written and read via
  * `spark.read/write.parquet`); this closes the gap for the manifests —
  * the precondition for the incremental family's 100 TB claims, where
  * indexes live on the cluster filesystem, not a driver-local disk.
  *
  * The filesystem is resolved from the path's own scheme against the
  * session's Hadoop configuration, so one JVM can hold stores on
  * different backends simultaneously.
  *
  * ATOMIC MANIFEST COMMIT, BY BACKEND (the family's contract is single
  * writer / many readers, with the manifest flip as the one commit
  * point — a reader must see old bytes or new, never torn):
  *
  *  - `file://` — `java.nio` ATOMIC_MOVE (POSIX rename). Atomic; the
  *    pre-r11 behavior, preserved exactly.
  *  - `hdfs://` — `FileContext.rename(OVERWRITE)`: one NameNode
  *    metadata op, atomic by the HDFS spec (the mechanism every
  *    manifest-committing table format relies on).
  *  - `s3a://` — object stores have no rename; the Hadoop client
  *    emulates it as copy+delete, which is NOT atomic. The temp-file
  *    dance still narrows the window to one small-object copy, and the
  *    single-writer contract means no committer races it, but a reader
  *    polling at exactly the wrong moment can observe a missing
  *    manifest (never a torn one: S3 PUTs are atomic per object).
  *    Production S3 deployments should front the flip with a
  *    commit-coordination layer (a DynamoDB-style lock or a catalog),
  *    exactly as Delta/Iceberg do — the store's manifest grammar does
  *    not change.
  */
final class StoreFs private (val fs: FileSystem, conf: Configuration,
                             rootStr: String) {

  /** Qualified store root (scheme + authority resolved). */
  val root: Path = fs.makeQualified(new Path(rootStr))

  private def child(name: String): Path = new Path(root, name)

  /** Fully-qualified child path string — what `spark.read/write.parquet`
    * consumes, unambiguous on any backend. */
  def pathOf(name: String): String = child(name).toString

  def exists(name: String): Boolean = fs.exists(child(name))

  def mkdirs(): Unit = fs.mkdirs(root)

  /** Non-empty lines of a small control file; Seq.empty when absent. */
  def linesIfExists(name: String): Seq[String] =
    if (!exists(name)) Seq.empty
    else {
      val in = fs.open(child(name))
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
          .trim.split("\n").toSeq.filter(_.nonEmpty)
      } finally in.close()
    }

  /** Atomic small-file commit: write a temp sibling, rename over the
    * target — semantics per backend in the class doc.
    *
    * When the calling thread holds this store's writer lease, the lease
    * file is re-read FIRST and must still name this JVM: a holder whose
    * write outlived `staleMs` (and was therefore taken over by a second
    * writer judging the once-written heartbeat stale) fails LOUDLY here
    * instead of silently interleaving manifest commits with the usurper.
    * One small-file read per commit — priced far below the parquet work
    * any commit follows. */
  def atomicWrite(name: String, bytes: Array[Byte]): Unit = {
    val lock = StoreFs.leaseLocks.get(root.toString)
    if (lock != null && lock.isHeldByCurrentThread &&
        !leaseHolder().exists(_._1 == StoreFs.jvmHolderId))
      throw new IllegalStateException(
        s"writer lease for $root lost before committing '$name': the lock " +
          s"now reads ${leaseHolder().map(_._1).getOrElse("<absent>")} — " +
          "this write outlived staleMs and another writer took over; " +
          "aborting instead of interleaving commits (re-run with a larger " +
          "staleMs sized above the longest write operation)")
    mkdirs()
    val target = child(name)
    val tmp = child(name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if ("file" == root.toUri.getScheme)
      // local: POSIX atomic rename — REPLACE semantics the Hadoop
      // RawLocalFileSystem rename cannot give (it refuses an existing
      // target), and stronger than FileContext's delete-then-rename
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else
      FileContext.getFileContext(root.toUri, conf)
        .rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** Names of ALL direct children (files and directories). */
  def names(): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName).toSeq

  /** Names of direct child DIRECTORIES (the member-dir namespace). */
  def dirNames(): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq

  /** Recursive delete of one child; no-op when absent. */
  def deleteChild(name: String): Unit = fs.delete(child(name), true)

  // ------------------------------------------------------- writer lease

  /** Run `f` holding this store's writer lease — the ENFORCED face of
    * the family's documented single-writer contract. Two concurrent
    * drivers pointed at the same store (the scheduler double-fires a
    * nightly job, an operator runs a manual backfill while the cron is
    * live) would interleave read-modify-write manifest commits and
    * corrupt silently; with the lease the second writer FAILS FAST with
    * the holder named instead.
    *
    * Mechanics: a `_WRITER.lock` file at the store root, created
    * exclusively (`create(overwrite = false)` — atomic on `file://` and
    * `hdfs://`; on `s3a://` create-exclusive is best-effort like the
    * manifest rename, and the same external-coordination note applies).
    * The file carries `holder` (host:pid:per-JVM-uuid) and `heartbeat`
    * — epoch millis AT ACQUISITION, written once (rewriting the lock
    * mid-hold would race the very readers judging it, and on a
    * checksummed local FS would desync the .crc sidecar); the staleMs
    * sizing rule below is therefore the whole liveness story — backed
    * by [[atomicWrite]]'s commit-time check that the lease still names
    * this JVM, so a write that DOES outlive staleMs and gets taken over
    * aborts loudly at its next commit instead of interleaving.
    *
    *  - **Conflict**: another live holder → loud IllegalStateException
    *    naming the holder and the lock age.
    *  - **Crashed-holder takeover**: a crash leaves the lock file
    *    behind; once its heartbeat is older than `staleMs` (default
    *    [[StoreFs.DefaultLeaseStaleMs]] — size it above the longest
    *    expected write operation) the next writer BREAKS the stale
    *    lease and proceeds. Until then writers refuse; an operator who
    *    knows the holder is dead can [[breakWriterLease]] explicitly.
    *  - **Re-entrant per THREAD, mutually exclusive per JVM**: a
    *    per-root ReentrantLock backs the file, so a nested acquire on
    *    the owning thread (a night's fold calls compact() on the same
    *    store) rides the held lease, while
    *    a DIFFERENT thread in the same JVM (a server thread pool
    *    driving two ingests at one store) BLOCKS until the holder
    *    finishes, rather than riding into exactly the interleaving the
    *    lease exists to prevent. The file is removed when the last
    *    hold drains, exceptions included. A process crash inside `f`
    *    leaves the lock for the stale window — intentional, since a
    *    half-written (uncommitted) attempt is exactly when a concurrent
    *    writer is least welcome. */
  def withWriterLease[T](staleMs: Long = StoreFs.DefaultLeaseStaleMs,
                         waitMs: Long = 0L)(f: => T): T = {
    val lock = StoreFs.leaseLocks.computeIfAbsent(root.toString,
      _ => new java.util.concurrent.locks.ReentrantLock)
    lock.lock()
    try {
      if (lock.getHoldCount == 1) acquireLeaseFile(staleMs, waitMs)
      try f
      finally if (lock.getHoldCount == 1) releaseLeaseFile()
    } finally lock.unlock()
  }

  /** Current lock contents: (holder, heartbeat millis), if any. */
  def leaseHolder(): Option[(String, Long)] =
    linesIfExists(StoreFs.LeaseName) match {
      case Seq(h, hb, _*) => Some((h, hb.toLong))
      case _ => None
    }

  /** Operator escape hatch: remove the lock unconditionally (use when
    * the holder is known dead and the stale window is too long to
    * wait). */
  def breakWriterLease(): Unit = fs.delete(child(StoreFs.LeaseName), true)

  /** `waitMs > 0` turns a live-holder conflict into a bounded poll
    * (1 s cadence) before the loud refusal — the double-firing-
    * scheduler convenience: the second firing of a nightly job waits
    * out the first instead of crashing, while the default (0) keeps
    * the fail-fast contract for everything that didn't opt in. */
  private def acquireLeaseFile(staleMs: Long, waitMs: Long = 0L): Unit = {
    mkdirs()
    val target = child(StoreFs.LeaseName)
    // Exclusive create. ONLY an already-exists outcome means "held by
    // someone" — any other IOException (permissions, quota, read-only
    // FS) is an environment fault that would otherwise busy-spin the
    // loop below forever, so it propagates loudly. Local-FS caveat: a
    // concurrent create can also surface as a rename/FNF-flavored
    // IOException whose message names the lock path; treat those as
    // held too (the verify step below disambiguates a wrongly-claimed
    // win, and a wrongly-claimed loss just re-loops).
    def tryCreate(): Boolean =
      try {
        val out = fs.create(target, false) // exclusive: fails if present
        try out.write(s"${StoreFs.jvmHolderId}\n${System.currentTimeMillis()}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // create-then-verify: a competing stale-breaker may have deleted
        // our fresh lock and installed its own between our create and
        // now — claiming the win without the read-back would let two
        // writers proceed. Losing the verify just re-loops.
        leaseHolder().exists(_._1 == StoreFs.jvmHolderId)
      } catch {
        case e: java.io.IOException
          if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
             e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
             (e.getMessage != null && e.getMessage.contains(target.getName)) =>
          false
      }
    val deadline = System.currentTimeMillis() + waitMs
    var vanishedRetries = 0
    var acquired = tryCreate()
    while (!acquired) {
      val now = System.currentTimeMillis()
      leaseHolder() match {
        case Some((holder, hb)) if now - hb < staleMs =>
          vanishedRetries = 0
          if (now < deadline) {
            Thread.sleep(math.min(1000L, deadline - now))
            acquired = tryCreate()
          } else throw new IllegalStateException(
            s"store at $root is write-locked by $holder " +
              s"(heartbeat ${now - hb} ms ago, stale after $staleMs ms) — " +
              "single-writer contract: wait for it (waitMs bounds a " +
              "polling wait), or breakWriterLease() if the holder is " +
              "known dead")
        case Some(_) =>
          // CONFIRMED stale heartbeat: break and take over. The
          // delete+create window is the best-effort race every
          // lock-file scheme has; tryCreate's read-back verify closes
          // the "our fresh lock got deleted under us" half of it, and
          // on a lost race the loop re-judges the new holder.
          breakWriterLease()
          acquired = tryCreate()
        case None =>
          // Vanished between tryCreate and the read — NORMAL operation
          // (the holder released in that window), not a crash: never
          // delete here, just re-attempt the exclusive create. Bounded,
          // because an FS that persistently fails create without
          // leaving a readable lock would otherwise spin forever.
          vanishedRetries += 1
          if (vanishedRetries > 50) throw new IllegalStateException(
            s"cannot acquire writer lease at $root: exclusive create " +
              s"failed $vanishedRetries times with no readable lock file " +
              "— filesystem refusing creates? (permissions / quota / " +
              "read-only mount)")
          Thread.sleep(20L)
          acquired = tryCreate()
      }
    }
  }

  private def releaseLeaseFile(): Unit = {
    // only remove our own lock: a stale-break by another writer may have
    // replaced it while we were (wrongly presumed dead but) still running
    if (leaseHolder().exists(_._1 == StoreFs.jvmHolderId)) breakWriterLease()
  }
}

object StoreFs {

  /** Writer-lease lock file name (store-root child). */
  val LeaseName = "_WRITER.lock"

  /** Default staleness horizon before a crashed holder's lease may be
    * broken: 30 minutes — above any single write operation at bench
    * scale by orders of magnitude; size it above the longest expected
    * operation (a 100 TB compaction) in production. */
  val DefaultLeaseStaleMs: Long = 30L * 60 * 1000

  /** One writer identity per JVM: the single-writer contract is per
    * driver process, and the per-JVM uuid keeps two drivers on the same
    * host distinct. */
  private[sources] val jvmHolderId: String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host:${ProcessHandle.current.pid}:${java.util.UUID.randomUUID}"
  }

  /** Per-root writer locks (JVM-global): same-thread re-entrancy,
    * cross-thread mutual exclusion. */
  private[sources] val leaseLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]

  /** Resolve against the session's Hadoop configuration — credentials,
    * endpoints, and filesystem impls configured for Spark apply to the
    * store paths too. */
  def apply(spark: SparkSession, root: String): StoreFs = {
    val conf = spark.sparkContext.hadoopConfiguration
    new StoreFs(new Path(root).getFileSystem(conf), conf, root)
  }

  /** Consistent point-in-time BACKUP of a persisted store — the
    * lifecycle verb the family still lacked after rollback/takedown/
    * time-travel: copy the WHOLE store root (manifests, members,
    * quantizer dirs, nested sub-stores, tag ledgers) while holding the
    * SOURCE's writer lease, so no mutator can commit mid-copy and the
    * clone is exactly one committed generation on every read face.
    * Readers of the source are never blocked (the lease excludes
    * writers only); a live writer elsewhere makes cloneTo FAIL FAST
    * naming the holder — the standard lease contract, because a copy
    * taken under a mutating store could tear across the manifest flip.
    * The lock file itself is skipped: a clone must not appear
    * lease-held by a writer that never existed. The clone is fully
    * independent — same grammar, so `open()`/`load()` reads it
    * directly, and it takes its own writer lease from then on.
    * Works store-agnostically (PointStore/DedupIndex/IvfIndex/
    * CurateStore share the StoreFs layout) and on any Hadoop backend;
    * `dest` must not already exist (a backup never overwrites). */
  def cloneTo(spark: SparkSession, srcRoot: String, destRoot: String): Unit = {
    val src = apply(spark, srcRoot)
    val dst = apply(spark, destRoot)
    require(!dst.fs.exists(dst.root),
      s"cloneTo: destination $destRoot already exists — a backup never " +
        "overwrites; vacuum or choose a fresh path")
    // a destination nested INSIDE the source turns the recursive copy
    // into an unbounded self-feeding loop (the copy keeps discovering
    // the files it just wrote) — refuse it outright on the qualified
    // absolute roots, before any lease or mkdir side effect
    require(!(dst.root.toString + "/").startsWith(src.root.toString + "/") &&
        !(src.root.toString + "/").startsWith(dst.root.toString + "/"),
      s"cloneTo: $destRoot and $srcRoot are nested within each other — " +
        "a clone must land outside its source tree")
    src.withWriterLease() {
      dst.fs.mkdirs(dst.root)
      val conf = spark.sparkContext.hadoopConfiguration
      // copy through the RAW filesystem on both sides, skipping any
      // checksum sidecar: the stores' manifest flips rename via
      // nio/FileContext, which BYPASSES ChecksumFileSystem — so control
      // files legitimately live without (or with stale) `.crc` sidecars
      // on a local backend, and a clone must reproduce exactly that
      // state. A checksummed copy would mint a fresh `._MANIFEST.crc`
      // that goes stale at the clone's first own manifest flip,
      // poisoning every read after it (measured, not theoretical).
      // HDFS/S3 have no client-side sidecars — raw ≡ plain there.
      def raw(f: org.apache.hadoop.fs.FileSystem) = f match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      val (srcRaw, dstRaw) = (raw(src.fs), raw(dst.fs))
      // enumerate first (directory creation is cheap metadata, done
      // inline during the walk), then copy the FILES through a bounded
      // thread pool: a store is many parquet members, and a sequential
      // driver-side byte copy leaves the backend's copy bandwidth
      // (local SSD queue depth, HDFS datanode streams, S3 ranged GETs)
      // unused — the reason distcp fans out. FileSystem instances are
      // shared and thread-safe; the pool is bounded because a single
      // local disk stops scaling past a few streams.
      val files = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
      def walk(from: Path, to: Path): Unit = {
        val st = srcRaw.getFileStatus(from)
        if (st.isDirectory) {
          dstRaw.mkdirs(to)
          srcRaw.listStatus(from).foreach(c =>
            walk(c.getPath, new Path(to, c.getPath.getName)))
        } else if (!from.getName.endsWith(".crc")) files += ((from, to))
      }
      srcRaw.listStatus(src.root).foreach { st =>
        if (st.getPath.getName != LeaseName)
          walk(st.getPath, new Path(dst.root, st.getPath.getName))
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, files.size)))
      try {
        val futs = files.toList.map { case (f, t) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              org.apache.hadoop.fs.FileUtil.copy(
                srcRaw, f, dstRaw, t, false /* deleteSource */, conf)
              ()
            }
          })
        }
        // settle every copy before failing, so a thrown caller never
        // races live copy threads still writing into the dest tree
        val errs = futs.flatMap { fu =>
          try { fu.get(); None }
          catch { case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause) }
        }
        errs.headOption.foreach(throw _)
      } finally pool.shutdown()
    }
  }

  /** Session-less resolution (default Hadoop configuration) for contexts
    * that hold only a path string — [[PointStore.versionOf]] serving the
    * QueryServer `/version` route. A schemed path (`hdfs://…`) still
    * resolves to its own filesystem. The configuration is built once per
    * JVM: loading its default resources costs tens of ms, which a poll
    * must not pay per call (FileSystem instances are cached by scheme). */
  def anonymous(root: String): StoreFs =
    new StoreFs(new Path(root).getFileSystem(defaultConf), defaultConf, root)

  private lazy val defaultConf = new Configuration()
}
