package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.CacheScope

/** Pins the persisted incremental MinHash-LSH corpus index: build is
  * the only corpus-sized pass, append signatures only its batch (new
  * parts, CAS commit), probe finds exact set-equality duplicates
  * across the corpus boundary with recall 1 (MinHash determinism),
  * and dedupeAgainst admits only genuinely new docs. */
class LshIndexSpec extends SparkSpec {

  private val root = scratchDir("graft_lshidx_")

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("build → probe finds corpus duplicates; append folds a batch in O(batch) parts") {
    val p = root + "/idx"
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "pack my box with five dozen liquor jugs right now",
      3L -> "sphinx of black quartz judge my vow said the king")
    LshIndex.build(corpus, p, "doc_id", "text")
    try {
      // a probe batch: one exact duplicate of doc 1 (different id), one
      // REORDERED-SENTENCE near-miss (different shingle set -> no hit),
      // one fresh doc
      val probe1 = docs(
        101L -> "the quick brown fox jumps over the lazy dog tonight",
        102L -> "over the lazy dog tonight the quick brown fox jumps",
        103L -> "completely novel content that matches nothing else here")
      val hits = LshIndex.probe(spark, p, probe1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheScope.releaseAll()
      assert(hits == Set((101L, 1L)), hits.toString)
      // admission filter drops exactly the duplicate
      val admitted = LshIndex.dedupeAgainst(spark, p, probe1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      CacheScope.releaseAll()
      assert(admitted == Set(102L, 103L))
      // append the admitted docs: the corpus grows WITHOUT re-reading
      // it — the new snapshot carries the old parts plus exactly one
      // fresh lb_/lf_ pair
      val before = graft.catalog.SnapshotManifest
        .currentParts(spark, p).get
      LshIndex.append(probe1.filter(col("doc_id") =!= 101L), p)
      val after = graft.catalog.SnapshotManifest.currentParts(spark, p).get
      assert(after.startsWith(before) && after.size == before.size + 2,
        s"append must add exactly one lb/lf part pair: $before -> $after")
      // a second probe now matches docs from BOTH generations
      val probe2 = docs(
        201L -> "completely novel content that matches nothing else here",
        202L -> "sphinx of black quartz judge my vow said the king")
      val hits2 = LshIndex.probe(spark, p, probe2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheScope.releaseAll()
      assert(hits2 == Set((201L, 103L), (202L, 3L)), hits2.toString)
      // vacuum keeps only the live snapshot's parts
      LshIndex.vacuum(spark, p)
      assert(graft.catalog.SnapshotManifest.snaps(spark, p).size == 1)
      val hits3 = LshIndex.probe(spark, p, probe2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheScope.releaseAll()
      assert(hits3 == hits2, "vacuum must not lose index content")
    } finally CacheScope.releaseAll()
  }

  test("remove tombstones stop matching; compactIndex folds parts and purges physically") {
    val p = root + "/idx3"
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "pack my box with five dozen liquor jugs right now",
      3L -> "sphinx of black quartz judge my vow said the king")
    LshIndex.build(corpus, p, "doc_id", "text")
    try {
      LshIndex.append(docs(
        4L -> "a fourth document arrives in the nightly batch okay"), p)
      LshIndex.append(docs(
        5L -> "and a fifth one lands the following night as well"), p)
      // remove doc 1 (retention expiry): a tombstone part, O(ids)
      import spark.implicits._
      LshIndex.remove(spark, p, Seq(1L).toDF("doc_id"))
      val parts = graft.catalog.SnapshotManifest.currentParts(spark, p).get
      assert(parts.count(_.startsWith("lt_")) == 1, parts.toString)
      // the ghost no longer matches; live docs still do
      val probe = docs(
        101L -> "the quick brown fox jumps over the lazy dog tonight",
        104L -> "a fourth document arrives in the nightly batch okay")
      def hits() = {
        val h = LshIndex.probe(spark, p, probe)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        CacheScope.releaseAll(); h
      }
      assert(hits() == Set((104L, 4L)), hits().toString)
      // the removed content can re-enter the corpus
      val admitted = LshIndex.dedupeAgainst(spark, p, probe)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      CacheScope.releaseAll()
      assert(admitted == Set(101L))
      // compact: 3 lb/lf pairs + 1 tombstone fold to ONE pair
      assert(parts.size == 7, parts.toString)
      assert(LshIndex.compactIndex(spark, p) == 5)
      val folded = graft.catalog.SnapshotManifest.currentParts(spark, p).get
      assert(folded.size == 2 && folded.exists(_.startsWith("lb_")) &&
        folded.exists(_.startsWith("lf_")), folded.toString)
      // tombstoned ids are gone PHYSICALLY: the folded fp log holds
      // only live docs, and probe results are unchanged
      LshIndex.vacuum(spark, p)
      val ids = spark.read.parquet(graft.catalog.SnapshotManifest
          .partPath(p, folded.find(_.startsWith("lf_")).get))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 3L, 4L, 5L), ids.toString)
      assert(hits() == Set((104L, 4L)))
      // idempotent: nothing left to fold
      assert(LshIndex.compactIndex(spark, p) == 0)
    } finally CacheScope.releaseAll()
  }

  test("append CAS: build refuses over an existing index; params come from meta") {
    val p = root + "/idx2"
    LshIndex.build(docs(1L -> "alpha beta gamma delta epsilon"), p,
      "doc_id", "text", n = 2, k = 16, bands = 8)
    intercept[IllegalArgumentException] {
      LshIndex.build(docs(2L -> "x"), p, "doc_id", "text")
    }
    // append uses the PERSISTED (n=2,k=16,bands=8) params — a 2-gram
    // duplicate must hit after a fresh-JVM-style append with no
    // parameters supplied
    LshIndex.append(docs(2L -> "zeta eta theta iota kappa"), p)
    val hits = LshIndex.probe(spark, p,
      docs(10L -> "zeta eta theta iota kappa"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheScope.releaseAll()
    assert(hits == Set((10L, 2L)), hits.toString)
  }

  test("append CAS: a second append landing inside the stage→flip window loses neither batch") {
    val p = root + "/idx4"
    LshIndex.build(docs(1L -> "alpha beta gamma delta epsilon zeta eta"), p,
      "doc_id", "text")
    try {
      // the racing append commits while the first one sits between
      // reading its base snapshot and its CAS commit; the first one's
      // commit then loses, re-reads and commits on top of the racer
      graft.catalog.SnapshotManifest.testInterleave = Some(("lsh-before-flip",
        () => LshIndex.append(docs(3L -> "pack my box with five dozen jugs"), p)))
      try LshIndex.append(docs(2L -> "sphinx of black quartz judge my vow"), p)
      finally graft.catalog.SnapshotManifest.testInterleave = None
      val parts = graft.catalog.SnapshotManifest.currentParts(spark, p).get
      assert(parts.size == 6, s"build + two appends = 3 lb/lf pairs: $parts")
      val hits = LshIndex.probe(spark, p, docs(
          12L -> "sphinx of black quartz judge my vow",
          13L -> "pack my box with five dozen jugs"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((12L, 2L), (13L, 3L)), hits.toString)
    } finally CacheScope.releaseAll()
  }
}
