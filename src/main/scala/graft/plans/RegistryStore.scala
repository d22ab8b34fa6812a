package graft.plans

import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

import graft.catalog.SnapshotManifest

/** ONE declaration registry: [[MvCatalog]], [[FkCatalog]] and
  * [[PkCatalog]] are its three instances, keyed by declaration name.
  * `kind` names the registry in messages and in the store's revoke
  * exclusions; `pathsOf` gives the root paths a def covers, whose
  * union is the rules' O(1) pre-check set ([[PlanMatch.touchesAny]]),
  * rebuilt on mutation and read per planning pass. JVM-global, like
  * [[RegistryStore]]'s load memo. */
class Registry[D](val kind: String, nameOf: D => String,
                  pathsOf: D => Set[String]) {
  private val defs = TrieMap.empty[String, D]
  @volatile private var pathsCache: Set[String] = Set.empty
  private def rebuild(): Unit = pathsCache = defs.values.flatMap(pathsOf).toSet
  def registeredPaths: Set[String] = pathsCache

  /** Derived-cache hook, run before a mutation lands: `old` is the
    * def being replaced or removed, `cur` the def being installed
    * (None on unregister). */
  protected def evict(old: Option[D], cur: Option[D]): Unit = ()

  def register(d: D): Unit = {
    evict(defs.get(nameOf(d)), Some(d)); defs.put(nameOf(d), d); rebuild()
  }
  def get(name: String): Option[D] = defs.get(name)
  def unregister(name: String): Unit = {
    evict(defs.get(name), None); defs.remove(name); rebuild()
  }
  def clear(): Unit = { defs.clear(); rebuild() }
  def isEmpty: Boolean = defs.isEmpty
  def all: Seq[D] = defs.values.toSeq.sortBy(nameOf)

  /** The registered def, loading the store first — a fresh driver's
    * first action may be a refresh or re-verify, not a query. */
  def lookup(spark: SparkSession, name: String): D = {
    RegistryStore.ensureLoaded(spark)
    get(name).getOrElse(
      throw new NoSuchElementException(s"$kind $name is not registered"))
  }

  /** Register `d` and write it through to the store. */
  def commit(spark: SparkSession, d: D): D = {
    register(d); RegistryStore.autoPersist(spark); d
  }

  /** Withdraw a declaration DURABLY: a plain [[unregister]] only
    * mutates this JVM's registry, and a persisted store would
    * resurrect the def on the next driver's lazy load — the wrong
    * outcome for a declaration revoked because it was mistaken. Loads
    * the store first (so the write-back is the full remainder),
    * unregisters, writes through excluding exactly this (kind, name). */
  def revoke(spark: SparkSession, name: String): Unit = {
    RegistryStore.ensureLoaded(spark)
    unregister(name)
    RegistryStore.writeThrough(spark, exclude = Set(kind -> name))
  }

  /** Store-load merge, FILL-GAPS ONLY (see [[RegistryStore.load]]),
    * skipping the (kind, name) pairs being revoked. */
  private[plans] def fillGap(d: D, exclude: Set[(String, String)]): Unit =
    if (!exclude(kind -> nameOf(d)) && get(nameOf(d)).isEmpty) register(d)
}

object Registry {

  /** The injected rules' one prologue, in this order: load a
    * persisted store (before the isEmpty short-circuit, so a fresh
    * driver's first query already plans with it), then some registry
    * non-empty, the rule's `enabledKey` conf on, and some registered
    * root among the plan's scan leaves. False = return the plan
    * untouched: a plan scanning no registered table never pays the
    * rule's walk. */
  def gate(spark: SparkSession, plan: LogicalPlan, enabledKey: String,
           registries: Registry[_]*): Boolean = {
    RegistryStore.ensureLoaded(spark)
    registries.exists(!_.isEmpty) &&
      SQLConf.get.getConfString(enabledKey, "true") == "true" &&
      registries.exists(r => PlanMatch.touchesAny(plan, r.registeredPaths))
  }
}

/** DURABLE [[Registry]]s. The three registries are JVM-wide maps —
  * enough inside one driver, but a NEW driver (cluster job restart, a
  * Thrift/Connect server picking the rules up via
  * `spark.sql.extensions=graft.GraftExtensions`) starts with every
  * registry empty and silently loses every rewrite: queries stay
  * correct but repay the fact scans, joins and shuffles the
  * declarations had eliminated. The cure is the commit protocol every
  * durable artifact here uses ([[SnapshotManifest]]): the registries
  * serialize to one versioned JSON file beside a `_latest` pointer,
  * flipped compare-and-swap, pruned to the last two versions.
  *
  *   - Set `graft.registry.path` on the session (or in
  *     `spark-defaults`) and every [[Registry.commit]] (each
  *     declaration, refresh and re-verify) WRITES THROUGH to the
  *     store, and [[Registry.revoke]] withdraws durably. The rules'
  *     [[Registry.gate]] and [[Registry.lookup]] lazily
  *     [[ensureLoaded]] the store, so a fresh driver rebuilds all three
  *     registries from one small file read before its first rewrite
  *     decision or refresh.
  *   - The [[TableState]] fp stamps persist VERBATIM: a table that
  *     moved while no driver was running fails the plan-time
  *     fingerprint check after reload exactly as it would have live —
  *     durability does not weaken the staleness contract.
  *   - Without the conf the registries live only in this JVM.
  *
  * Any number of declaring drivers per registry path ([[persist]]'s
  * CAS loop merges a concurrent winner's declarations); readers only
  * ever see a complete pointed-to version. */
object RegistryStore {

  val ConfKey = "graft.registry.path"

  /** Paths already loaded in this JVM — loading is idempotent and
    * cheap, but planning runs per query and must not re-read. */
  private val loaded = TrieMap.empty[String, Boolean]

  private[graft] def resetForTest(): Unit = loaded.clear()

  private def confPath(spark: SparkSession): Option[String] =
    spark.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty)

  /** Write-through hook for [[Registry.commit]]: persist the
    * registries iff the session opts in via `graft.registry.path`.
    * LOADS FIRST: a fresh driver whose first action is a declaration
    * (no query planned yet, so the rules' lazy load never ran) would
    * otherwise serialize only its own new def and atomically replace
    * the store — silently destroying every previously persisted
    * declaration. Loading merges the persisted defs into the live
    * registries before the snapshot is written. */
  def autoPersist(spark: SparkSession): Unit =
    confPath(spark).foreach { dir =>
      ensureLoaded(spark)
      persist(spark, dir)
    }

  /** The revocation path: `exclude` names the (kind, name) pairs being
    * revoked, so the CAS loop's fill-gaps merge cannot resurrect
    * exactly the def being withdrawn (revocation is authoritative — it
    * wins even over a concurrent re-declaration of the same name) nor
    * skip a same-named def of another kind. Callers must
    * [[ensureLoaded]] BEFORE the unregister ([[Registry.revoke]] does),
    * so the snapshot written here is the full store minus the revoked
    * defs. */
  private[plans] def writeThrough(spark: SparkSession,
                                  exclude: Set[(String, String)]): Unit =
    confPath(spark).foreach { dir =>
      loaded.put(dir, true) // this JVM's view is now the truth
      persist(spark, dir, exclude)
    }

  /** Load the store once per JVM per path. */
  def ensureLoaded(spark: SparkSession): Unit =
    confPath(spark).foreach { dir =>
      loaded.getOrElseUpdate(dir, { load(spark, dir); true })
    }

  /** Serialize all three registries to `dir` (versioned file + `_latest`
    * flip + keep-last-2 prune).
    *
    * CONCURRENCY-SAFE: the flip is a compare-and-swap against the
    * pointer read before the merge, through the one retry loop
    * ([[SnapshotManifest.publish]]). Two drivers declaring at once can
    * no longer last-writer-win the whole store: the loser deletes its
    * version file, re-reads the winner's version, MERGES it into the
    * live registries (fill-gaps — its own fresh declarations win by
    * name), re-serializes, and retries with a fresh version file;
    * bounded attempts, then a loud failure naming the directory.
    * `exclude` suppresses the merge for the (kind, name) pairs being
    * revoked (see [[writeThrough]]). */
  def persist(spark: SparkSession, dir: String,
              exclude: Set[(String, String)] = Set.empty): Unit = {
    val fs = SnapshotManifest.fsOf(spark, dir)
    fs.mkdirs(new Path(dir))
    SnapshotManifest.publish(spark, dir, "registry persist",
        "registry-before-flip") { _ =>
      // merge any defs a concurrent driver persisted since our last
      // read — one small file read; live (newer) defs win by name
      loadExcluding(spark, dir, exclude)
      Some(SnapshotManifest.PointerOffer(stageVersion(spark, dir)))
    }.foreach(o => prune(fs, dir, o.name))
  }

  /** Write the current registries as a fresh immutable version file
    * (temp + rename); returns its name. No pointer is touched. */
  private def stageVersion(spark: SparkSession, dir: String): String = {
    val fs = SnapshotManifest.fsOf(spark, dir)
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("version", 1)
    val mvs = root.putArray("mvs")
    MvCatalog.all.foreach { d =>
      val o = mvs.addObject()
      o.put("name", d.name); o.put("mvPath", d.mvPath); o.put("fp", d.fp)
      o.putPOJO("basePaths", d.basePaths.toSeq.sorted.asJava)
      o.putPOJO("dims", d.dims.asJava)
      o.putPOJO("measures", d.measures.toSeq.sorted.asJava)
      o.putPOJO("mins", d.mins.toSeq.sorted.asJava)
      o.putPOJO("maxs", d.maxs.toSeq.sorted.asJava)
      if (d.distincts.nonEmpty)
        o.putPOJO("distincts", d.distincts.toSeq.sorted.asJava)
      d.where.foreach(o.put("where", _))
      if (d.joins.nonEmpty) {
        val ja = o.putArray("joins")
        d.joins.foreach { j =>
          val jo = ja.addObject()
          jo.putPOJO("dimPaths", j.dimPaths.toSeq.sorted.asJava)
          jo.putPOJO("factKeys", j.factKeys.asJava)
          jo.putPOJO("dimKeys", j.dimKeys.asJava)
          if (j.preserving) jo.put("preserving", true)
        }
      }
    }
    val fks = root.putArray("fks")
    FkCatalog.all.foreach { d =>
      val o = fks.addObject()
      o.put("name", d.name); o.put("fp", d.fp)
      o.putPOJO("childPaths", d.childPaths.toSeq.sorted.asJava)
      o.putPOJO("childKeys", d.childKeys.asJava)
      o.putPOJO("parentPaths", d.parentPaths.toSeq.sorted.asJava)
      o.putPOJO("parentKeys", d.parentKeys.asJava)
    }
    val pks = root.putArray("pks")
    PkCatalog.all.foreach { d =>
      val o = pks.addObject()
      o.put("name", d.name); o.put("fp", d.fp)
      o.putPOJO("paths", d.paths.toSeq.sorted.asJava)
      o.putPOJO("keys", d.keys.asJava)
    }
    // SnapshotManifest.token: wall-clock-ordered and sign-safe, so
    // the keep-last-2 prune's lexicographic sort is the commit order
    val name = "reg_" + SnapshotManifest.token() + ".json"
    val tmp = new Path(dir, s".tmp_$name")
    val out = fs.create(tmp, true)
    try out.write(m.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"registry persist: rename failed: $name")
    name
  }

  /** keep-last-2: the current version plus one predecessor for
    * in-flight readers; older files are reclaimed. */
  private def prune(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                    name: String): Unit = {
    val keep = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n.startsWith("reg_") && n.endsWith(".json"))
      .sorted.takeRight(2).toSet + name
    fs.listStatus(new Path(dir)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("reg_") && n.endsWith(".json") && !keep.contains(n))
        fs.delete(st.getPath, false)
    }
  }

  /** Register every persisted declaration into the live registries.
    * FILL-GAPS ONLY: a name already registered in memory wins — the
    * live def is always at least as new as the store's (every
    * declaration writes through), and a load racing a just-completed
    * refresh must not resurrect the superseded version (stale mvPath,
    * stale fp). No-op (not an error) when the store has no pointer
    * yet. */
  def load(spark: SparkSession, dir: String): Unit =
    loadExcluding(spark, dir, Set.empty)

  /** [[load]] skipping `exclude` — the CAS retry path of a revoking
    * [[writeThrough]] must not re-register the very defs being
    * withdrawn from a concurrent winner's version, and only those:
    * the exclusion is keyed by (kind, name), so revoking unique key
    * `k` still merges a concurrently persisted FK `k`. */
  private def loadExcluding(spark: SparkSession, dir: String,
                            exclude: Set[(String, String)]): Unit = {
    val name = SnapshotManifest.currentSnap(spark, dir).getOrElse(return)
    val fs = SnapshotManifest.fsOf(spark, dir)
    val in = fs.open(new Path(dir, name))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
    val root = new ObjectMapper().readTree(text)
    // validate the format BEFORE touching fields: a future-format or
    // hand-edited file must fail with a guided error naming the file,
    // not an opaque NullPointerException from an absent node
    val file = s"$dir/$name"
    def fail(why: String): Nothing = throw new IllegalStateException(
      s"registry store $file: $why — expected the version-1 format " +
        "persist() writes ({version:1, mvs:[...], fks:[...], pks:[...]}); " +
        "delete or repair the file (keep-last-2 retains the predecessor)")
    val ver = Option(root.get("version")).filter(_.isInt).map(_.asInt())
      .getOrElse(fail("missing or non-integer 'version' field"))
    if (ver != 1) fail(s"unsupported version $ver")
    def arr(f: String): Iterator[JsonNode] =
      Option(root.get(f)).filter(_.isArray)
        .getOrElse(fail(s"missing or non-array '$f' field"))
        .elements().asScala
    def field(n: JsonNode, f: String): JsonNode =
      Option(n.get(f)).getOrElse(fail(s"entry lacks required field '$f'"))
    def str(n: JsonNode, f: String): String =
      field(n, f).asText()
    def strs(n: JsonNode, f: String): Seq[String] =
      field(n, f).elements().asScala.map(_.asText()).toSeq
    // parse every entry BEFORE registering any: a malformed FK/PK
    // entry (or a missing array) must not leave this file's MVs live
    val mvs = arr("mvs").map { o =>
      def mvJoin(j: JsonNode): MvJoin =
        MvJoin(strs(j, "dimPaths").toSet, strs(j, "factKeys"),
          strs(j, "dimKeys"),
          Option(j.get("preserving")).exists(_.asBoolean(false)))
      // `joins` array (current format); a single `join` object is the
      // pre-star-generalization spelling — still readable
      val joins = Option(o.get("joins")).filter(_.isArray)
        .map(_.elements().asScala.map(mvJoin).toSeq)
        .orElse(Option(o.get("join")).map(j => Seq(mvJoin(j))))
        .getOrElse(Nil)
      MvDef(str(o, "name"),
        strs(o, "basePaths").toSet, str(o, "mvPath"),
        strs(o, "dims"), strs(o, "measures").toSet,
        strs(o, "mins").toSet, strs(o, "maxs").toSet, joins,
        str(o, "fp"),
        // absent in pre-distincts/pre-filtered files — defaults
        distincts = Option(o.get("distincts")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText()).toSet)
          .getOrElse(Set.empty),
        where = Option(o.get("where")).filter(_.isTextual).map(_.asText()))
    }.toSeq
    val fks = arr("fks").map { o =>
      FkDef(str(o, "name"),
        strs(o, "childPaths").toSet, strs(o, "childKeys"),
        strs(o, "parentPaths").toSet, strs(o, "parentKeys"), str(o, "fp"))
    }.toSeq
    val pks = arr("pks").map { o =>
      UniqueKeyDef(str(o, "name"),
        strs(o, "paths").toSet, strs(o, "keys"), str(o, "fp"))
    }.toSeq
    mvs.foreach(MvCatalog.fillGap(_, exclude))
    fks.foreach(FkCatalog.fillGap(_, exclude))
    pks.foreach(PkCatalog.fillGap(_, exclude))
  }
}
