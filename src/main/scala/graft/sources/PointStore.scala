package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent point-table store: the reference's `INSERT .. ON DUPLICATE
  * KEY UPDATE x = x + VALUES(x)` tables (crunch_global.sql:58-75)
  * re-expressed as a log-structured columnar store.
  *
  * The write path the reference's MariaDB table gives it for free — an
  * in-place keyed upsert — does not exist on immutable columnar storage,
  * and the naive re-expression (read table, merge batch, rewrite table)
  * is O(table) PER BATCH: correct, but a 100 TB point table cannot be
  * rewritten a thousand times a day. This store uses the LSM shape every
  * production table format (Delta, Hudi, Iceberg) converges on:
  *
  *  - [[append]] writes the batch's key-grain PARTIAL aggregate as an
  *    immutable delta directory — O(batch), never touches the base;
  *  - [[snapshot]] is merge-on-read: scan base + deltas in parallel and
  *    re-aggregate on the key (sums add, maxes fold) — ONE shuffle,
  *    identical to the `upsert_merge` merge plan the oracle proves;
  *  - [[compact]] folds the current snapshot into a new base and resets
  *    the delta list, amortizing read cost; readers of the old manifest
  *    still see intact directories ([[vacuum]] reclaims unreferenced ones
  *    later — the Delta VACUUM contract);
  *  - [[changesSince]] is the changefeed: every committed delta gets a
  *    monotonic version in the manifest's change log, and a consumer
  *    reads O(changes) key-grain upsert images since its checkpoint —
  *    never O(table) — across compaction boundaries (the CDF contract;
  *    [[vacuum]]'s retention horizon bounds how far back a consumer may
  *    fall before it must resync from [[snapshot]]).
  *
  * Commits are an atomic manifest flip (`_MANIFEST` written via temp file
  * + rename through [[StoreFs]] — POSIX ATOMIC_MOVE on `file://`, a
  * NameNode-atomic rename on `hdfs://`; per-backend semantics on
  * [[StoreFs]]'s doc): a reader sees the store before a commit or after
  * it, never half of one. The store path may be any Hadoop filesystem
  * URI. Single writer, any number of readers — the
  * reference's worker is a single queue consumer with the same contract.
  * The additive-merge law (MergeSpec: crunch(A) ⊕ crunch(B) ==
  * crunch(A ∪ B)) makes batch boundaries and compaction points invisible
  * in the snapshot — PointStoreSpec asserts exactly that, and the
  * `point_store_roundtrip` oracle proves it through a real
  * write→compact→append→read cycle on disk.
  *
  * @param keys  grouping key columns (the table's primary key)
  * @param sums  measure columns merged by SUM
  * @param maxes measure columns merged by MAX
  * @param sketches measure columns holding serialized
  *   [[graft.functions.DistinctSketch]] binaries, merged with
  *   `graft_sketch_merge` — NON-additive measures (distinct counts) as
  *   first-class point-table columns, the Druid/DataSketches model. The
  *   additive-merge law holds because the sketch merge is associative,
  *   commutative, state-exact (merge(sk(A), sk(B)) ≡ sk(A∪B)) and
  *   byte-deterministic, so batch boundaries and compaction points stay
  *   invisible in the snapshot exactly as they are for sums.
  * @param quantiles measure columns holding serialized
  *   [[graft.functions.QuantileSketch]] binaries, merged with
  *   `graft_quantile_merge` — order-statistics measures (length/latency
  *   distributions per key) beside the counts; exact below the sketch
  *   capacity, bounded rank error past it.
  * @param mins measure columns merged by MIN (MAX's twin — any
  *   idempotent, commutative, associative fold composes with the LSM
  *   lifecycle the same way).
  * @param topks measure columns holding serialized SpaceSaving
  *   heavy-hitters sketches ([[graft.functions.TopKSketchAgg]]), merged
  *   with `graft_topk_merge` — "top tokens per language, corpus-wide,
  *   updated nightly" as a point-table column, completing the sketch
  *   trio's store story (distinct counts and quantiles landed in r11).
  *   The mergeable-summaries merge (Agarwal PODS'12) is associative and
  *   commutative with the true ≤ est ≤ true + err bound preserved, and
  *   serialization is sorted → byte-deterministic, so batch boundaries
  *   and compaction points stay invisible exactly as for sums; in the
  *   exact regime (k ≥ cardinality anywhere a partial is built) the
  *   folded ranking is bit-identical to a one-shot GROUP BY.
  */
final class PointStore private (spark: SparkSession, path: String,
                       val keys: Seq[String], sums: Seq[String],
                       maxes: Seq[String], sketches: Seq[String],
                       quantiles: Seq[String], mins: Seq[String],
                       topks: Seq[String], opened: Option[PointStore.Manifest]) {

  def this(spark: SparkSession, path: String, keys: Seq[String],
           sums: Seq[String], maxes: Seq[String], sketches: Seq[String] = Nil,
           quantiles: Seq[String] = Nil, mins: Seq[String] = Nil,
           topks: Seq[String] = Nil) =
    this(spark, path, keys, sums, maxes, sketches, quantiles, mins, topks, None)

  require(keys.nonEmpty &&
    (sums.nonEmpty || maxes.nonEmpty || sketches.nonEmpty ||
      quantiles.nonEmpty || mins.nonEmpty || topks.nonEmpty),
    "point store needs key columns and at least one measure")

  import PointStore.{EmptyMember, LogLine, Manifest, SchemaLine, TagLine, VacLine}

  // all manifest/member path handling via the Hadoop FileSystem API —
  // the store works unchanged on file://, hdfs://, s3a:// (atomic-
  // rename semantics per backend documented on StoreFs)
  private val sfs = StoreFs(spark, path)
  sfs.mkdirs()

  /** The manifest as committed now. Every public method reads it ONCE
    * (mutators inside the writer lease), so one operation sees one
    * committed generation: members, ledger, log and horizon agree. */
  private def readManifest(): Manifest = PointStore.readManifest(sfs)

  /** Member directories of the current snapshot, oldest first. */
  def members: Seq[String] = readManifest().members

  /** Tags consumed by [[appendTagged]], whether their delta is still a
    * live member or already compacted into a base (its `#tag:` ledger
    * line). Grows with distinct tags for the life of the store — tags
    * are batch identifiers (manifest metadata), not data-sized. */
  def consumedTags: Set[String] = readManifest().tags

  // ---- self-describing schema (r12): the key/measure-class layout is
  // MANIFEST METADATA, not code-only knowledge — every commit records
  // it, so [[PointStore.open]] can read a store directory with zero
  // configuration (the table-format property every catalog relies on),
  // and a handle whose declaration CONTRADICTS the stored layout is
  // refused at construction instead of silently mis-merging (a column
  // stored as a SUM opened as a MAX would fold wrong, quietly).
  // Widening (schema evolution) and narrowing (an old reader) are both
  // legal; moving a column between classes or changing the keys is not.
  private def classesOf: Seq[(String, Seq[String])] = Seq(
    "keys" -> keys, "sums" -> sums, "maxes" -> maxes,
    "sketches" -> sketches, "quantiles" -> quantiles,
    "mins" -> mins, "topks" -> topks)

  /** The layout recorded in the manifest, if any (pre-r12 stores have
    * none and stay readable — their first new commit records one). */
  def storedSchema: Option[Map[String, Seq[String]]] = readManifest().schema

  // [[PointStore.open]] hands over the manifest it read the layout from
  opened.getOrElse(readManifest()).schema.foreach { st =>
    require(st.getOrElse("keys", Nil) == keys,
      s"point store at $path is keyed (${st.getOrElse("keys", Nil).mkString(",")}) " +
        s"but this handle declares (${keys.mkString(",")}) — the key tuple " +
        "defines the grain and cannot change")
    for {
      (cls, cols) <- classesOf if cls != "keys"
      c <- cols
      (storedCls, storedCols) <- st if storedCls != cls && storedCls != "keys"
      if storedCols.contains(c)
    } throw new IllegalArgumentException(
      s"column '$c' is stored as $storedCls at $path but this handle " +
        s"declares it as $cls — a cross-class merge would fold it wrong; " +
        "open with the stored class (or compact under the old layout " +
        "and migrate explicitly)")
  }

  /** Manifest schema line: the union of the stored layout and this
    * handle's declaration, so an old narrow handle committing to an
    * evolved store never erases the wider layout. */
  private def schemaLine(m: Manifest): String = {
    val st = m.schema.getOrElse(Map.empty)
    SchemaLine + classesOf.map { case (cls, cols) =>
      val merged =
        if (cls == "keys") keys
        else (st.getOrElse(cls, Nil) ++ cols).distinct
      s"$cls=${merged.mkString(",")}"
    }.mkString("|")
  }

  /** Current content version: 0 for an empty/never-appended store, +1 per
    * committed delta. Only [[append]]/[[appendTagged]] bump it —
    * [[compact]] reorganizes storage without changing content. Survives
    * compaction and vacuum (a fully-pruned log keeps counting up from
    * [[vacuumedThrough]]). */
  def version: Long = readManifest().version

  /** Highest version pruned from the change log by [[vacuum]] — reads at
    * or below this horizon must resync from [[snapshot]]. */
  def vacuumedThrough: Long = readManifest().vacuumedThrough

  /** Changefeed read: the key-grain partial aggregate of versions in
    * `(since, until]` — O(changes), never O(table), and valid across
    * [[compact]] (folded delta dirs stay on disk until [[vacuum]]). The
    * upper bound makes a consumer's fold-then-checkpoint atomic even
    * when a writer commits concurrently: fold exactly the window you
    * checkpoint, never "everything at read time". The rows are additive
    * upsert images: downstream consumers fold them exactly like
    * [[snapshot]]'s merge (sums add, maxes fold, sketch measures
    * fold with `graft_sketch_merge`) — the same contract
    * the reference's ON DUPLICATE KEY consumers have. Asking for a
    * horizon [[vacuum]] has pruned fails loudly (resync from
    * [[snapshot]] instead of silently losing rows); a caught-up read on
    * a non-empty store returns a schema-stable empty frame (an
    * empty store has no schema yet, and says so). */
  def changesSince(since: Long, until: Long = Long.MaxValue): DataFrame =
    changesOf(readManifest(), since, until)

  private def changesOf(m: Manifest, since: Long, until: Long): DataFrame = {
    require(since >= m.vacuumedThrough,
      s"changefeed vacuumed through ${m.vacuumedThrough} — version $since is " +
        "no longer readable; resync from snapshot")
    require(until >= since, s"empty window ($since, $until]")
    val dirs = m.changeLog.filter(e => e._1 > since && e._1 <= until).map(_._2)
      .filterNot(_ == EmptyMember) // ledger-only empty deltas
    if (dirs.isEmpty) {
      require(m.members.nonEmpty,
        s"point store at $path is empty — the changefeed has no schema " +
          "before the first append")
      snapshotOf(m).limit(0)
    } else mergeAgg(readMembers(dirs))
  }

  /** Atomically REPLACE the store's content with `partial` (aggregated
    * to the key grain) as a fresh base, consuming `tag`. The previous
    * directories stay on disk for in-flight readers until [[vacuum]] —
    * the manifest flip is still the one commit point, so a reader (or a
    * crash) sees the old store or the new, never an empty one. A
    * replacement cannot be represented as a changefeed window, so the
    * change log is cleared and [[vacuumedThrough]] advances to the new
    * version: this store's own downstream consumers fail loudly on
    * their next poll and resync in turn (the cascading-resync
    * contract). */
  def overwriteTagged(tag: String, partial: DataFrame): Unit =
    overwriteTagged(tag, partial, _ => true, Set.empty)

  /** The ledger-replacing overload: `keep` filters which of THIS
    * store's consumed tags survive the flip and `adopt` injects tags
    * consumed elsewhere. Exists for the one caller whose replacement
    * content comes from a REBUILT sibling store driven by a fresh
    * streaming checkpoint ([[graft.streaming.Maintained.takedownUsers]]):
    * the rebuild's checkpoint replaces the maintenance checkpoint, so
    * batch ids restart at 0 — the old stream's `bN` tags would collide
    * with (and silently swallow) the new stream's future batches, while
    * the REBUILD's own `bN` tags are exactly the ones the adopted
    * checkpoint has already committed and must no-op on redelivery. */
  def overwriteTagged(tag: String, partial: DataFrame,
                      keep: String => Boolean, adopt: Set[String]): Unit =
    sfs.withWriterLease() {
      // tag-idempotent like appendTagged: an at-least-once resync retry
      // whose tag already committed must NOT re-replace the base — the
      // version bump + vacuum-horizon advance would force this store's own
      // consumers into an unnecessary cascading resync
      val m = readManifest()
      if (!m.tags(tag)) {
        val name = f"base-$nextSeq%06d"
        writeMemberParquet(name, keyGrain(partial))
        writeManifest(m, (name +: (m.tags.filter(keep) ++ adopt + tag)
          .toSeq.sorted.map(TagLine + _)) :+ s"$VacLine${m.version + 1}")
      }
    }

  /** Member parquet write + schema-memo seeding. The memo entry is the
    * written frame's schema as a parquet read reports it, so the next
    * [[snapshot]] after a commit reads no footer (a Spark job per fresh
    * member otherwise). The put also REPLACES any older entry (r21
    * ADVICE): a rebuilt stream's batch ids restart at 0 after
    * [[overwriteTagged]] dropped the `bN` tag ledger, so a `delta-bN`
    * PATH can be rewritten within one JVM, and a stale schema could
    * make a later snapshot union silently omit a measure column only
    * the new member carries. */
  private def writeMemberParquet(name: String, df: DataFrame): Unit = {
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(sfs.pathOf(name))
    PointStore.memberSchemaMemo.put(sfs.pathOf(name),
      PointStore.readSchemaOf(df.schema))
  }

  /** Commit `lines` as the manifest that follows `m`. */
  private def writeManifest(m: Manifest, lines: Seq[String]): Unit =
    sfs.atomicWrite("_MANIFEST",
      (lines.filterNot(_.startsWith(SchemaLine)) :+ schemaLine(m))
        .mkString("\n").getBytes)

  /** Next commit sequence number: one past the highest ever written —
    * scanning the DIRECTORY (not the manifest) so a compacted-away name
    * is never reused while an old reader might still hold it. */
  private def nextSeq: Long = {
    val m = "(?:base|delta)-([0-9]+)".r
    val existing = sfs.names()
      .flatMap { case m(d) => Some(d.toLong); case _ => None }
    if (existing.isEmpty) 1L else existing.max + 1L
  }

  /** Deltas currently live in the manifest (excludes the base). */
  def deltaCount: Int = readManifest().members.count(_.startsWith("delta-"))

  private def measureCols: Seq[String] =
    sums ++ maxes ++ sketches ++ quantiles ++ mins ++ topks

  /** Merge the frame to the key grain. Read-side schema evolution: only
    * measures PRESENT in the frame are folded — a time-travel window
    * predating an added column correctly yields a result WITHOUT that
    * column (it didn't exist at that version), while writes stay strict
    * (the append path selects the full declared list, so a partial
    * missing a declared measure fails loudly there). */
  private def mergeAgg(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    keys.foreach(k => require(have(k), s"key column '$k' missing from frame"))
    def keep(cs: Seq[String]) = cs.filter(have)
    val exprs = keep(sums).map(c => sum(col(c)).as(c)) ++
      keep(maxes).map(c => max(col(c)).as(c)) ++
      keep(mins).map(c => min(col(c)).as(c)) ++
      keep(sketches).map(c => graft.functions.SketchOps.sketchMerge(col(c)).as(c)) ++
      keep(quantiles).map(c => graft.functions.SketchOps.quantileMerge(col(c)).as(c)) ++
      keep(topks).map(c => graft.functions.SketchOps.topkMerge(col(c)).as(c))
    require(exprs.nonEmpty,
      s"none of the declared measures (${measureCols.mkString(", ")}) are " +
        "present in the frame")
    df.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** A write's partial at the key grain, every declared column strict. */
  private def keyGrain(partial: DataFrame): DataFrame =
    mergeAgg(partial.select((keys ++ measureCols).map(col): _*))

  /** Fold one batch into the store. `partial` may be at any grain — it is
    * aggregated to the key grain here, so O(delta file) = O(distinct keys
    * in the batch), not O(batch rows). */
  def append(partial: DataFrame): Unit = sfs.withWriterLease() {
    writeDelta(readManifest(), f"delta-$nextSeq%06d", partial)
  }

  /** Idempotent append for at-least-once delivery (foreachBatch retry
    * semantics): a delta whose `tag` was ever committed — live in the
    * manifest OR already folded into a base by [[compact]] (the tag
    * stays in the manifest's `#tag:` ledger) — is a no-op, and a
    * directory left by a CRASHED attempt (written but never committed)
    * is overwritten: the manifest flip is the one commit point for both
    * the delta and its tag, so there is no state where one is durable
    * without the other. Returns whether this call committed the delta.
    * `tag` must be filesystem-safe and non-numeric (numeric names are the
    * sequence-numbered namespace of [[append]]/[[compact]]). */
  def appendTagged(tag: String, partial: DataFrame,
                   leaseWaitMs: Long = 0L): Boolean =
    // check-and-commit INSIDE the writer lease: two writers redelivering
    // the same tag otherwise both pass the check before either commits,
    // and the second manifest append folds the delta twice forever
    sfs.withWriterLease(waitMs = leaseWaitMs) {
      // ledger check first: a tag recorded as consumed — including a
      // live non-numeric tagged member, which the manifest's tags read
      // off its member list — stays a redelivery no-op even if it
      // predates the namespace contract of requireTagName
      val m = readManifest()
      if (m.tags(tag)) false
      else {
        requireTagName(tag)
        writeDelta(m, s"delta-$tag", partial); true
      }
    }

  /** A purely-numeric tag's member would land in append/compact's
    * `delta-N` namespace, where the ledger cannot tell it from an
    * untagged delta: redeliveries would double-count, and a tag equal to
    * a live `delta-000NNN` would be swallowed as already committed. */
  private def requireTagName(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9._-]+") && !tag.forall(_.isDigit),
      s"append tag '$tag' must be filesystem-safe and non-numeric")

  /** Ledger-only commit of `tag`: its `#tag:` line plus a version bump
    * whose change-log entry names [[PointStore.EmptyMember]]. */
  private def commitEmpty(m: Manifest, tag: String): Unit =
    writeManifest(m, m.lines :+ s"$TagLine$tag" :+
      s"$LogLine${m.version + 1}:$EmptyMember")

  // callers hold the writer lease (the enforced single-writer contract,
  // StoreFs.withWriterLease) and read `m` under it
  private def writeDelta(m: Manifest, name: String, partial: DataFrame): Unit = {
    writeMemberParquet(name, keyGrain(partial))
    // r20 optimization: a TAGGED delta that folded ZERO rows — half of
    // every maintained lifecycle's micro-batches is the watermark-
    // advance batch that finalized nothing — commits as a LEDGER-ONLY
    // entry (the [[appendTaggedEmpty]] manifest shape) and its
    // schema-only directory is reclaimed, instead of joining the member
    // list that every later snapshot scans forever. The decision reads
    // the just-written footers DRIVER-side (a few ms, no extra Spark job
    // — the one plan execution stays the write above). The store's FIRST
    // commit always stays a real member (the snapshot's schema comes
    // from member footers); untagged sequence-numbered deltas keep the
    // old behavior (a bare number cannot live in the tag ledger).
    val tag = name.stripPrefix("delta-")
    val emptyable = m.members.nonEmpty && name.startsWith("delta-") &&
      !tag.forall(_.isDigit)
    if (emptyable && parquetRowCount(sfs.pathOf(name)) == 0L) {
      commitEmpty(m, tag)
      sfs.deleteChild(name)
      PointStore.memberSchemaMemo.remove(sfs.pathOf(name))
    } else
      writeManifest(m, m.lines :+ name :+ s"$LogLine${m.version + 1}:$name")
  }

  /** Row count of a just-written parquet directory from its footers —
    * driver-side metadata, no Spark job. The read options are built
    * from the session's conf: the one-argument `open` builds a fresh
    * Hadoop `Configuration`, which re-parses the XML defaults on every
    * commit. */
  private def parquetRowCount(dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(conf).listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(f.getPath, conf), opts)
        try rdr.getRecordCount finally rdr.close()
      }.sum
  }

  /** Merge-on-read view: base + deltas scanned in parallel, one
    * shuffle-on-key re-aggregation (PointStoreSpec pins the plan to a
    * single exchange).
    *
    * SCHEMA EVOLUTION (additive): a store may GROW measure columns over
    * its life — open the same directory with a wider measure list and
    * append; members written before the new column simply lack it, the
    * scan null-fills it, and every merge skips
    * nulls (SUM/MAX/MIN by SQL semantics, the sketch merges by their
    * all-null→NULL contract), so history never needs a rewrite — the
    * nightly table gains a metric and old keys read NULL for it until
    * a delta (or a compaction of one) covers them. Dropping or
    * renaming a measure is NOT supported this way (open with the old
    * list or compact first); keys cannot evolve (they define the
    * grain). */
  def snapshot: DataFrame = snapshotOf(readManifest())

  /** [[snapshot]], or None while the store has no member — one manifest
    * read for both. */
  def snapshotIfAny: Option[DataFrame] = {
    val m = readManifest()
    if (m.members.isEmpty) None else Some(snapshotOf(m))
  }

  private def snapshotOf(m: Manifest): DataFrame =
    mergeAgg(readMembers(liveMembers(m)))

  private def liveMembers(m: Manifest): Seq[String] = {
    require(m.members.nonEmpty, s"point store at $path is empty")
    m.members
  }

  /** The schema of [[snapshot]], from the member schemas alone: no file
    * listing, no scan planned — what a writer validating rows against
    * the store needs. */
  def snapshotSchema: StructType =
    mergeAgg(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      memberUnion(liveMembers(readManifest())))).schema

  /** One multi-path scan over member directories (r20 optimization,
    * guide §6): the per-member `reduce(unionByName)` chain paid one
    * schema-discovery read plus one plan leg PER member — a dozen
    * driver round-trips per snapshot on a nightly store. The read's
    * schema is the BY-NAME UNION of the members' schemas (a member
    * written before a measure existed reads NULL for it, exactly what
    * `allowMissingColumns` null-filled — parquet fills requested-but-
    * absent columns with nulls), so the snapshot is one scan node
    * whatever the member count. Member schemas memoize per directory:
    * a committed member is immutable (manifest flips always commit
    * FRESH names; the one same-name rewrite — a crashed appendTagged
    * attempt — happens before the commit, and only committed members
    * are ever read), so the footer is read at most once per (JVM,
    * member), and never for a member this JVM wrote (seeded at write).
    * `mergeSchema` would do the same union but as a distributed
    * footer-sweep job on EVERY read (measured: +4 s on the curate
    * lifecycle). */
  private def readMembers(ms: Seq[String]): DataFrame =
    spark.read.schema(memberUnion(ms)).parquet(ms.map(sfs.pathOf): _*)

  /** The by-name union of the members' (memoized) schemas — the schema
    * [[readMembers]] scans with. A type that differs across members
    * takes the wider one the parquet reader can widen to
    * ([[PointStore.widerOf]]): SUM adds 10 digits of decimal precision,
    * so a compacted base holds decimal(38,s) beside decimal(p+10,s)
    * deltas. Any other change fails loudly, naming member and column. */
  private def memberUnion(ms: Seq[String]): StructType =
    StructType(ms.foldLeft(Vector.empty[StructField]) { (union, m) =>
      val schema = PointStore.memberSchemaMemo.computeIfAbsent(sfs.pathOf(m),
        q => spark.read.parquet(q).schema)
      schema.fields.foldLeft(union) { (acc, f) =>
        acc.indexWhere(_.name == f.name) match {
          case -1 => acc :+ f
          case i =>
            val g = acc(i)
            val wider = PointStore.widerOf(g.dataType, f.dataType)
              .getOrElse(throw new IllegalArgumentException(
                s"member '$m' of point store at $path declares " +
                  s"column '${f.name}' as ${f.dataType.sql} but an " +
                  s"earlier member holds ${g.dataType.sql} — measure " +
                  "types cannot change across members, except by a " +
                  "widening the parquet reader performs"))
            acc.updated(i, g.copy(dataType = wider))
        }
      }
    })

  /** TIME TRAVEL: the store's content as of `version` — the merge-fold
    * of EVERY change window up to it, which equals the snapshot a
    * reader at that version saw (content versions only move on append;
    * compaction never bumps one). That reconstruction needs the FULL
    * change history: once [[vacuum]] has pruned anything (or
    * [[overwriteTagged]] reset the log), content at or below the
    * horizon lives only in folded bases the log can no longer slice by
    * version — so historical reads then refuse LOUDLY rather than
    * return a partial fold that silently misses pre-horizon content
    * (retention policy, not staleness, decides how far back a reader
    * may ask; vacuum with the default retains nothing and ends time
    * travel). The current version is always readable. */
  def snapshotAt(asOf: Long): DataFrame = {
    val m = readManifest()
    require(asOf <= m.version,
      s"version $asOf is in the future — current version is ${m.version}")
    if (asOf == m.version) snapshotOf(m) // current content is always readable
    else {
      require(m.vacuumedThrough == 0,
        s"time travel to version $asOf needs the full change history, " +
          s"but the store was vacuumed through ${m.vacuumedThrough} — " +
          "content at or below the horizon is folded into bases the " +
          "log cannot slice by version; retain history (vacuum " +
          "retainVersions covering the whole log) to keep past " +
          "versions readable")
      changesOf(m, 0, asOf)
    }
  }

  /** Fold the snapshot into a single new base and drop the delta list
    * from the manifest; tags of folded-away tagged deltas are preserved
    * as `#tag:` ledger lines so [[appendTagged]] stays idempotent across
    * compaction. Old directories stay on disk for in-flight readers of
    * the previous manifest; [[vacuum]] reclaims them.
    *
    * `clusterFiles > 0` Z-ORDERS the new base on the key tuple
    * (OPTIMIZE ZORDER applied at the compaction point, where the table
    * is being rewritten anyway): each key maps to a Long — numerics
    * directly, dates/timestamps as epoch units, strings by their first
    * 7 bytes NUL-padded (order-preserving for ASCII dimension members)
    * — quantized against driver-collected min/max (two values per key,
    * one metadata-sized agg) and Morton-interleaved; the base is then
    * range-partitioned into `clusterFiles` files on the z-value. Layout
    * only — content and manifest semantics are identical, and snapshot
    * reads of a keyed slice prune files on ANY key subset
    * (PointStoreSpec measures the per-file bounding boxes). */
  def compact(clusterFiles: Int = 0): Unit = sfs.withWriterLease() {
    val m = readManifest()
    val ms = m.members
    if (ms.size > 1 || (ms.size == 1 && !ms.head.startsWith("base-"))) {
      val name = f"base-$nextSeq%06d"
      val snap = snapshotOf(m)
      val out =
        if (clusterFiles <= 0) snap
        else {
          val longs = keys.map(k => keyAsLong(col(k), snap.schema(k).dataType))
          val aggCols = longs.zipWithIndex.flatMap { case (c, i) =>
            Seq(min(c).as(s"lo$i"), max(c).as(s"hi$i")) }
          val bounds = snap.agg(aggCols.head, aggCols.tail: _*).collect()(0)
          val qs = longs.zipWithIndex.map { case (c, i) =>
            graft.operators.Layout.quantize(c,
              bounds.getLong(2 * i), bounds.getLong(2 * i + 1)) }
          snap.withColumn("__z", graft.operators.Layout.interleaveN(qs))
            .repartitionByRange(clusterFiles, col("__z"))
            .sortWithinPartitions(col("__z"))
            .drop("__z")
        }
      writeMemberParquet(name, out)
      // content is unchanged, so the version does not bump; the change
      // log and vacuum horizon carry over verbatim
      writeManifest(m, (name +: m.tags.toSeq.sorted.map(TagLine + _)) ++
        m.lines.filter(l => l.startsWith(LogLine) || l.startsWith(VacLine)))
    }
  }

  /** Record `tag` as consumed WITHOUT content (r20 optimization): the
    * ledger line plus a version bump whose change-log entry names the
    * empty member "[[PointStore.EmptyMember]]". Semantically identical
    * to appending an empty parquet delta — the version axis, tag
    * idempotence and every changefeed window read the same — without
    * the write job, the two manifest-listed files, and the forever-
    * after empty scan leg in every snapshot. The maintained lifecycles
    * use it for the no-rows half of their micro-batches (a watermark-
    * advance batch that finalized nothing): half of a nightly store's
    * members were schema-only parquet dirs. Returns whether this call
    * consumed the tag (a redelivery is a no-op, exactly like
    * [[appendTagged]]). */
  def appendTaggedEmpty(tag: String, leaseWaitMs: Long = 0L): Boolean =
    sfs.withWriterLease(waitMs = leaseWaitMs) {
      val m = readManifest()
      if (m.tags(tag)) false
      else {
        // mirror writeDelta's emptyable condition (r21 ADVICE): an empty
        // store's first commit must be a REAL member (the snapshot's
        // schema comes from member footers) — a ledger-only version 1
        // would leave version > 0 with every read failing "store is
        // empty", the state the writeDelta path deliberately avoids
        require(m.members.nonEmpty,
          s"point store at $path is empty — the first commit must carry " +
            "content (appendTagged); a ledger-only entry would leave the " +
            "store versioned but unreadable")
        requireTagName(tag)
        commitEmpty(m, tag)
        true
      }
    }

  /** Order-preserving Long view of a key column for Z-order quantization. */
  private def keyAsLong(c: Column, dt: DataType): Column = {
    dt match {
      case StringType =>
        // first 7 bytes big-endian, NUL-padded: positional compare, fits
        // a signed Long (2^56), order-preserving for ASCII members
        conv(hex(substring(rpad(c, 7, "\u0000").cast("binary"), 1, 7)), 16, 10)
          .cast("long")
      case DateType => datediff(c, to_date(lit("1970-01-01"))).cast("long")
      case TimestampType | TimestampNTZType => unix_micros(c.cast("timestamp"))
      case _ => c.cast("long")
    }
  }

  /** Delete directories neither the snapshot nor the retained changefeed
    * window references (run once no reader can hold a pre-compaction
    * manifest OR an unexecuted snapshot plan over one — Spark frames read
    * files lazily). `retainVersions` is the changefeed retention horizon:
    * the last N versions stay readable via [[changesSince]]; everything
    * at or below `version - N` is pruned from the log and recorded in
    * [[vacuumedThrough]], so a consumer that fell behind fails loudly
    * instead of silently missing rows. The default retains nothing —
    * pure space reclamation, the pre-changefeed behavior. */
  def vacuum(retainVersions: Long = 0L): Unit = sfs.withWriterLease() {
    val m = readManifest()
    val horizon = math.max(m.vacuumedThrough, m.version - retainVersions)
    val kept = m.changeLog.filter(_._1 > horizon)
    writeManifest(m,
      m.lines.filterNot(l => l.startsWith(LogLine) || l.startsWith(VacLine)) ++
        kept.map { case (v, n) => s"$LogLine$v:$n" } :+ s"$VacLine$horizon")
    val live = m.members.toSet ++ kept.map(_._2)
    sfs.dirNames().filterNot(live).foreach(sfs.deleteChild)
  }
}

object PointStore {

  /** Change-log member name of a ledger-only empty delta
    * ([[PointStore!.appendTaggedEmpty]]): never a directory ("-" is
    * outside the base/delta member grammar), contributes no rows to
    * any changefeed window, and [[PointStore!.vacuum]]'s live-set union
    * treats it as a name that simply never matches a directory. */
  private[sources] val EmptyMember = "-"

  /** Per-(JVM, member dir) parquet schema memo — METADATA only (a
    * StructType, never rows); see [[PointStore!.readMembers]]. Every
    * member this JVM writes is seeded here at write time. */
  private[graft] val memberSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The schema `spark.read.parquet` reports for a member written from a
    * frame of schema `s`: the same fields, every level nullable (file
    * sources read everything as nullable). Seeds the memo at write time,
    * so a fresh member's footer is never read back just for its schema. */
  private[sources] def readSchemaOf(s: StructType): StructType = {
    def nullable(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    nullable(s).asInstanceOf[StructType]
  }

  /** The type a scan may request for a column members hold as `a` and
    * as `b`: the same, or the wider one Spark's parquet reader widens the
    * other to (int to long; a decimal to one with no fewer integer and
    * fraction digits; int to a decimal with 10 integer digits or more). */
  private[sources] def widerOf(a: DataType, b: DataType): Option[DataType] = {
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (IntegerType, LongType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (IntegerType, t: DecimalType) => t.precision - t.scale >= 10
      case _ => false
    }
    // .sql ignores nullability (sameType is private[sql])
    if (a.sql == b.sql) Some(a)
    else if (widens(a, b)) Some(b)
    else if (widens(b, a)) Some(a)
    else None
  }

  private[sources] val SchemaLine = "#schema:"
  private[sources] val TagLine = "#tag:"
  private[sources] val LogLine = "#log:"
  private[sources] val VacLine = "#vacuumed:"

  /** One parsed read of `_MANIFEST` (absent: no lines). Lines are member
    * dirs, oldest first; `#tag:` tags of compacted-away tagged deltas (a
    * live `delta-<tag>` names its own); `#log:<version>:<dir>` change-log
    * entries; `#vacuumed:` horizons; the `#schema:` layout record. */
  private[sources] final class Manifest(val lines: Seq[String]) {
    lazy val members: Seq[String] = lines.filterNot(_.startsWith("#"))
    lazy val tags: Set[String] = lines.collect {
      case l if l.startsWith(TagLine) => l.stripPrefix(TagLine)
      case l if l.startsWith("delta-") && !l.matches("delta-[0-9]+") =>
        l.stripPrefix("delta-")
    }.toSet
    /** (version, delta dir), ascending. */
    lazy val changeLog: Seq[(Long, String)] =
      lines.collect { case l if l.startsWith(LogLine) =>
        val rest = l.stripPrefix(LogLine)
        val cut = rest.indexOf(':')
        (rest.take(cut).toLong, rest.drop(cut + 1))
      }.sortBy(_._1)
    lazy val vacuumedThrough: Long =
      lines.collect { case l if l.startsWith(VacLine) =>
        l.stripPrefix(VacLine).toLong
      }.foldLeft(0L)(math.max)
    lazy val version: Long = (vacuumedThrough +: changeLog.map(_._1)).max
    lazy val schema: Option[Map[String, Seq[String]]] =
      lines.find(_.startsWith(SchemaLine)).map { l =>
        l.stripPrefix(SchemaLine).split("\\|").map { part =>
          val cut = part.indexOf('=')
          part.take(cut) ->
            part.drop(cut + 1).split(",").toSeq.filter(_.nonEmpty)
        }.toMap
      }
  }

  private[sources] def readManifest(sfs: StoreFs): Manifest =
    new Manifest(sfs.linesIfExists("_MANIFEST"))

  /** Open a store from its directory alone — the layout comes from the
    * manifest's schema record, no caller-side configuration (what a
    * catalog, a server, or an ad-hoc reader needs). Fails loudly on a
    * directory with no committed store or a manifest predating the
    * schema record (open it once with the explicit constructor; its
    * next commit records the layout). */
  def open(spark: SparkSession, path: String): PointStore = {
    val m = readManifest(StoreFs(spark, path))
    require(m.lines.nonEmpty, s"no point store at $path")
    val schema = m.schema.getOrElse(throw new IllegalArgumentException(
        s"point store at $path has no schema record (written before " +
          "self-describing manifests) — construct it with the explicit " +
          "layout once; its next commit records the schema"))
    def cls(c: String) = schema.getOrElse(c, Nil)
    new PointStore(spark, path, cls("keys"), cls("sums"), cls("maxes"),
      cls("sketches"), cls("quantiles"), cls("mins"), cls("topks"), Some(m))
  }

  private[graft] def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  /** Content version of the store at `path` WITHOUT opening it (no
    * schema needed — the same manifest parse as [[PointStore!.version]]).
    * None when no store exists there. Serves the
    * QueryServer `/version` route, where the caller knows only a
    * directory name. */
  def versionOf(path: String): Option[Long] = {
    val m = readManifest(StoreFs.anonymous(path))
    if (m.lines.isEmpty) None else Some(m.version)
  }

  /** `point_store_roundtrip`: the reference's worker lifecycle against a
    * store on disk — three batch upserts with a compaction between the
    * second and third, then a merge-on-read snapshot. The oracle is the
    * ONE-SHOT aggregate, so a hash match proves append/compact/snapshot
    * preserve the additive-merge law through real parquet round-trips. */
  def roundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Merge
    // per-JVM token + run counter + exit reaping: two concurrent
    // sessions on the same dataset never clobber each other's live store
    val dir = graft.operators.DedupIndex.freshRunDir("graft_pointstore_", d)
    val store = new PointStore(s, dir.getPath,
      keys = Seq("game_mode", "role"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    val li = graft.Tables.lineitem(s, d)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))
    store.append(batch(0))
    store.append(batch(1))
    store.compact()
    store.append(batch(2)) // snapshot must merge base + post-compaction delta
    Merge.finish(store.snapshot)
  }

  def roundtripOracle: String = graft.operators.Merge.pointOracle()

  /** `point_store_changes`: the changefeed face — batches 0 and 1 are
    * folded and compacted away, a consumer checkpoints the version,
    * batch 2 lands (plus a redelivered duplicate that must commit
    * nothing), and the changefeed at the checkpoint returns exactly
    * batch 2's key-grain partial. The oracle is the one-shot aggregate
    * of batch 2 alone, so a hash match proves the O(changes) read is
    * correct across a compaction boundary and idempotent redelivery. */
  def changefeed(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Merge
    // per-JVM token + run counter + exit reaping: two concurrent
    // sessions on the same dataset never clobber each other's live store
    val dir = graft.operators.DedupIndex.freshRunDir("graft_pointstore_cdc_", d)
    val store = new PointStore(s, dir.getPath,
      keys = Seq("game_mode", "role"),
      sums = Seq("played", "wins", "time_spent_d", "gold_d"),
      maxes = Seq("last_match"))
    val li = graft.Tables.lineitem(s, d)
    def batch(m: Int) = Merge.pointAgg(li.filter(col("l_orderkey") % 3 === m))
    store.appendTagged("b0", batch(0))
    store.appendTagged("b1", batch(1))
    store.compact()
    val checkpoint = store.version
    store.appendTagged("b2", batch(2))
    store.appendTagged("b2", batch(2)) // at-least-once redelivery: no-op
    Merge.finish(store.changesSince(checkpoint))
  }

  def changefeedOracle: String =
    graft.operators.Merge.pointOracle(where = "WHERE l_orderkey % 3 = 2")

  /** `point_store_sketch`: a SKETCH-measured point table — the Druid/
    * DataSketches production shape, composed from this store and
    * [[graft.functions.DistinctSketch]]: per-language vocabulary
    * (distinct shingles, NON-additive) and posting counts (additive)
    * folded together through the full LSM lifecycle — three tagged
    * batch upserts, a compaction between the second and third, an
    * at-least-once redelivery that must commit nothing, then a
    * merge-on-read snapshot read through `graft_sketch_est`. The oracle
    * is the ONE-SHOT per-lang `count(*)` / `count(DISTINCT shingle)`
    * (exact sparse regime, [[graft.operators.TextOps.DistinctSparseCap]]),
    * so a hash match proves the additive-merge law extends to the
    * sketch measure through real parquet round-trips: batch boundaries,
    * the compaction point, and the redelivery are all invisible. */
  def sketchStore(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchOps
    import graft.operators.TextOps
    // per-JVM token + run counter + exit reaping: two concurrent
    // sessions on the same dataset never clobber each other's live store
    val dir = graft.operators.DedupIndex.freshRunDir("graft_pointstore_sk_", d)
    val store = new PointStore(s, dir.getPath,
      keys = Seq("lang"), sums = Seq("n_post"), maxes = Nil,
      sketches = Seq("vocab"))
    val docs = graft.Tables.documents(s, d)
    def batch(m: Int) =
      TextOps.langShingles(docs.filter(col("doc_id") % 3 === m))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_post"),
          SketchOps.distinctSketch(col("shingle"),
            TextOps.DistinctP, TextOps.DistinctSparseCap).as("vocab"))
    store.appendTagged("b0", batch(0))
    store.appendTagged("b1", batch(1))
    store.compact()
    store.appendTagged("b2", batch(2))
    store.appendTagged("b2", batch(2)) // at-least-once redelivery: no-op
    store.snapshot
      .select(col("lang"), col("n_post"),
        SketchOps.sketchEst(col("vocab")).as("n_shingles"))
      .orderBy(col("lang"))
  }

  def sketchStoreOracle: String = s"""
    WITH ${graft.operators.Dedup.shingleSqlCte(
      graft.operators.Curation.DecontamN, carry = Seq("lang"))}
    SELECT lang, CAST(count(*) AS BIGINT) AS n_post,
           CAST(count(DISTINCT shingle) AS BIGINT) AS n_shingles
    FROM sh GROUP BY 1 ORDER BY 1"""
}
