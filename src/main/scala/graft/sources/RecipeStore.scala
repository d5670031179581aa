package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The parameters of one training-data assembly run — everything
  * [[graft.operators.Mix.assembleWith]] consumes: per-language epoch
  * weights, the default weight for unlisted languages, the shuffle
  * seed, the context token budget, and the pack shard size. A value
  * class with EXACT round-trip serialization (doubles print via
  * `java.lang.Double.toString`, whose shortest-repr contract re-parses
  * to the identical bits), because "approximately the recipe that
  * trained run N" is not provenance. */
final case class Recipe(
    epochs: Seq[(String, Double)],
    defaultEpochs: Double,
    seed: String,
    budget: Long,
    packShardSize: Long) {
  epochs.foreach { case (lang, w) =>
    require(lang.matches("[A-Za-z0-9_-]+"),
      s"recipe: stratum '$lang' is not a plain identifier")
    // refuse unusable configs at COMMIT, not at replay: NaN/Infinity
    // parse via toDouble (POST /recipe?epochs=en:NaN would commit a
    // version that serializes as invalid JSON and that mixOf's [0,64]
    // guard rejects at every future /assemble). Same band as mixOf.
    require(w >= 0.0 && w <= 64.0, // NaN fails both comparisons
      s"recipe: epoch weight $w for '$lang' must be finite in [0, 64]") }
  require(defaultEpochs >= 0.0 && defaultEpochs <= 64.0,
    s"recipe: defaultEpochs $defaultEpochs must be finite in [0, 64]")
  require(seed.matches("[A-Za-z0-9._:-]{1,64}"),
    s"recipe: seed '$seed' must be short and filesystem-safe")
  require(budget > 0, s"recipe: budget $budget must be positive")
  require(packShardSize > 0,
    s"recipe: packShardSize $packShardSize must be positive")

  /** Run the proven mix → shuffle → pack DAG under this recipe. */
  def assemble(corpus: DataFrame): DataFrame =
    graft.operators.Mix.assembleWith(
      corpus, epochs, defaultEpochs, seed, budget, packShardSize)
}

/** Versioned, time-travelable storage for assembly recipes — the
  * CONFIG side of training-run provenance. `batch_provenance` answers
  * "which corpus sources fed batch 17"; this store answers the prior
  * question, "what exactly WAS the recipe of run N": every commit is a
  * new immutable version under an exactly-once tag, old versions stay
  * readable forever (recipes are a few hundred bytes — nothing to
  * vacuum), and `assembleAt(corpus, v)` replays run v's layout
  * bit-for-bit because the whole DAG is deterministic in (corpus,
  * recipe). Together the two close the provenance loop end-to-end:
  * recipe version → assembled layout → per-batch source attribution.
  *
  * Storage follows the family layout ([[StoreFs]]): one `recipe-N`
  * file per committed version, a `_RECIPES` manifest whose atomic flip
  * is the single commit point, `#tag:` ledger lines making redelivered
  * commits no-ops (the broker-idempotence shape of the reference's
  * worker ack loop — worker.js:119-165 — held by the store), and
  * `#log:N:tag` lines binding each version to the batch tag that
  * committed it (`tagOf`). Mutators run under the store's writer
  * lease; readers never block. Works on any Hadoop filesystem, and
  * [[StoreFs.cloneTo]] backs it up like every other member of the
  * family.
  */
final class RecipeStore private (spark: SparkSession, val root: String) {

  private val sfs = StoreFs(spark, root)

  private def manifestLines: Seq[String] =
    sfs.linesIfExists(RecipeStore.ManifestName)

  private def members: Seq[String] =
    manifestLines.filterNot(_.startsWith("#"))

  /** Batch tags already folded in — a redelivered commit is a no-op. */
  def consumedTags: Set[String] =
    manifestLines.collect {
      case l if l.startsWith("#tag:") => l.stripPrefix("#tag:") }.toSet

  /** Latest committed version; 0 for an empty store. */
  def version: Long = members.size.toLong

  /** The batch tag that committed version `v` — the provenance link
    * from a run number back to the ingest event that configured it. */
  def tagOf(v: Long): Option[String] =
    manifestLines.collectFirst {
      case l if l.startsWith(s"#log:$v:") => l.stripPrefix(s"#log:$v:") }

  /** Commit a new recipe version under an exactly-once batch tag.
    * Returns whether THIS call committed: a redelivered tag answers
    * false and changes nothing (the version axis never double-counts a
    * double-fired scheduler). The manifest flip is the one commit
    * point — a crash between the member write and the flip leaves an
    * orphan file no reader ever sees, and the retry overwrites it. */
  def commit(tag: String, recipe: Recipe): Boolean = {
    require(tag.nonEmpty && !tag.exists(_ < ' ') && !tag.contains(":"),
      s"recipe commit tag '$tag' must be a non-empty identifier without " +
        "':' or control characters (U+0000-U+001F)")
    sfs.withWriterLease() {
      if (consumedTags(tag)) false
      else {
        val v = version + 1
        val name = s"recipe-$v"
        sfs.atomicWrite(name, RecipeStore.serialize(recipe))
        sfs.atomicWrite(RecipeStore.ManifestName,
          ((members :+ name) ++
            (consumedTags + tag).toSeq.sorted.map("#tag:" + _) ++
            manifestLines.filter(l => l.startsWith("#log:") ||
              l.startsWith("#deprecated:")) :+
            s"#log:$v:$tag")
            .mkString("\n").getBytes("UTF-8"))
        true
      }
    }
  }

  /** The recipe as of version `v` — time travel over the config axis.
    * Unknown versions fail loudly naming the store's range; version 0
    * (the empty store) has no recipe by construction. */
  def recipeAt(v: Long): Recipe = {
    require(v >= 1 && v <= version,
      s"recipeAt($v): store $root has versions 1..$version" +
        (if (version == 0) " (empty — commit a recipe first)" else ""))
    RecipeStore.deserialize(sfs.linesIfExists(s"recipe-$v"), s"$root/recipe-$v")
  }

  /** The live recipe (latest version). */
  def current: Recipe = recipeAt(version)

  /** Versions recalled by [[deprecate]] — still readable provenance
    * (what run N trained on is history, not an opinion), but refused
    * by [[assembleAt]] unless forced. */
  def deprecatedVersions: Set[Long] =
    manifestLines.collect {
      case l if l.startsWith("#deprecated:") =>
        l.stripPrefix("#deprecated:").takeWhile(_ != ':').toLong }.toSet

  /** The reason a version was deprecated (None for live versions). */
  def deprecationOf(v: Long): Option[String] =
    manifestLines.collectFirst {
      case l if l.startsWith(s"#deprecated:$v:") =>
        l.stripPrefix(s"#deprecated:$v:") }

  /** RECALL version `v` without rewriting history: the one lifecycle
    * verb the immutable version axis was missing. A bad recipe (wrong
    * mixture shipped, seed collision discovered, budget typo) cannot
    * be deleted — run N's provenance must stay readable forever — but
    * it must stop being REPLAYABLE by accident: after `deprecate(v,
    * why)`, [[assembleAt]] refuses `v` loudly (quoting `why`) unless
    * the caller passes `force = true`, and reads surface the marker
    * ([[deprecatedVersions]] / [[deprecationOf]]). Append-only like
    * every ledger line (idempotent re-deprecation keeps the FIRST
    * reason; there is deliberately no un-deprecate — recall of a
    * recall is a fresh commit of the corrected recipe). Returns
    * whether THIS call marked it. */
  def deprecate(v: Long, why: String): Boolean = {
    require(!why.contains("\n"),
      "deprecation reason must be a single line")
    sfs.withWriterLease() {
      require(v >= 1 && v <= version,
        s"deprecate($v): store $root has versions 1..$version")
      if (deprecatedVersions(v)) false
      else {
        sfs.atomicWrite(RecipeStore.ManifestName,
          (manifestLines :+ s"#deprecated:$v:$why")
            .mkString("\n").getBytes("UTF-8"))
        true
      }
    }
  }

  /** Replay run `v`'s assembly over `corpus` — deterministic in
    * (corpus, recipe), so this IS the layout run `v` trained on.
    * Deprecated versions refuse unless `force = true` (reproducing a
    * recalled run on purpose — e.g. to debug what it trained on — is
    * legitimate; doing it by default is how a recalled mixture ships
    * twice). */
  def assembleAt(corpus: DataFrame, v: Long, force: Boolean = false): DataFrame = {
    deprecationOf(v).filterNot(_ => force).foreach { why =>
      throw new IllegalArgumentException(
        s"recipe version $v is deprecated ($why) — assembleAt(corpus, " +
          s"$v, force = true) replays it anyway")
    }
    recipeAt(v).assemble(corpus)
  }
}

object RecipeStore {

  private[graft] val ManifestName = "_RECIPES"

  /** Create-or-open: the manifest materializes on first commit, so
    * opening is free and needs no configuration — the store is fully
    * self-describing (versions, tags, and recipe bodies all live under
    * the root). */
  def apply(spark: SparkSession, root: String): RecipeStore =
    new RecipeStore(spark, root)

  /** `key=value` lines + one `epoch=lang:weight` line per stratum, in
    * stratum order. Doubles serialize via their shortest exact repr. */
  private[sources] def serialize(r: Recipe): Array[Byte] = {
    val lines =
      Seq("#graft-recipe v1",
        s"seed=${r.seed}",
        s"budget=${r.budget}",
        s"default_epochs=${r.defaultEpochs}",
        s"pack_shard_size=${r.packShardSize}") ++
      r.epochs.map { case (l, w) => s"epoch=$l:$w" }
    lines.mkString("\n").getBytes("UTF-8")
  }

  private[sources] def deserialize(lines: Seq[String], where: String): Recipe = {
    require(lines.headOption.contains("#graft-recipe v1"),
      s"$where is not a graft recipe (bad or missing header)")
    val kv = lines.tail.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
    def one(k: String): String = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(
        s"$where: missing recipe field '$k'"))
    Recipe(
      epochs = kv.collect { case ("epoch", v) =>
        val i = v.lastIndexOf(':')
        require(i > 0, s"$where: malformed epoch line '$v'")
        (v.take(i), v.drop(i + 1).toDouble)
      },
      defaultEpochs = one("default_epochs").toDouble,
      seed = one("seed"),
      budget = one("budget").toLong,
      packShardSize = one("pack_shard_size").toLong)
  }
}
