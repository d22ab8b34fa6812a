package graft.pipeline

import graft.SparkSpec
import graft.catalog.SnapshotManifest
import graft.ops.CacheScope

/** Pins the one snapshot-directory protocol of the persisted indexes
  * ([[IndexIo]]): a save that crashes between its writes and its flip
  * is invisible, and a missing index is one error for every kind. */
class IndexIoSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("a save crashed before its flip leaves every index kind on version 1") {
    val root = scratchDir("graft_indexio")
    val (ivf, pq, bpe, terms) =
      (s"$root/ivf", s"$root/pq", s"$root/bpe", s"$root/terms")
    def docs(ids: Range) =
      ids.map(i => (i.toLong, s"doc$i alpha beta")).toDF("doc_id", "text")
    def termIds() = TextAnalysis.loadDocLengths(spark, terms)
      .select("doc_id").as[Long].collect().toSet

    val ivf1 = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val pq1 = PqIndex.build(emb, "vec_id", "embedding", m = 8, nWords = 16)
    ivf1.save(ivf); pq1.save(pq)
    Bpe.save(spark, Bpe.fixtureMerges, bpe)
    TextAnalysis.saveTermIndex(docs(1 to 10), "doc_id", "text", terms,
      nBuckets = 4)

    val ivf2 = IvfIndex.build(emb, "vec_id", "embedding", nCells = 4)
    val pq2 = PqIndex.build(emb, "vec_id", "embedding", m = 4, nWords = 16)
    SnapshotManifest.testFailpoint = Some("index-before-flip")
    try {
      intercept[java.io.IOException](ivf2.save(ivf))
      intercept[java.io.IOException](pq2.save(pq))
      intercept[java.io.IOException](
        Bpe.save(spark, Bpe.fixtureMerges.take(5), bpe))
      intercept[java.io.IOException](TextAnalysis.saveTermIndex(
        docs(11 to 20), "doc_id", "text", terms, nBuckets = 4))
      intercept[java.io.IOException](TextAnalysis.appendTermIndex(
        docs(21 to 30), "doc_id", "text", terms))
    } finally SnapshotManifest.testFailpoint = None

    // each crashed save wrote its whole directory, then stopped short
    // of the flip: readers still get version 1
    val ivfL = IvfIndex.load(spark, ivf)
    assert(ivfL.centroids.length == 8 && ivfL.builtAt == ivf1.builtAt)
    val pqL = PqIndex.load(spark, pq)
    assert(pqL.codebooks.length == 8 && pqL.builtAt == pq1.builtAt)
    assert(Bpe.load(spark, bpe) == Bpe.fixtureMerges)
    assert(termIds() == (1L to 10L).toSet)
    // the next save publishes over the orphaned directories
    TextAnalysis.appendTermIndex(docs(21 to 30), "doc_id", "text", terms)
    assert(termIds() == ((1L to 10L) ++ (21L to 30L)).toSet)
    Seq(ivf1, ivf2, ivfL).foreach(_.close())
    Seq(pq1, pq2, pqL).foreach(_.close())
    CacheScope.releaseAll()
  }

  test("loading where nothing was saved is FileNotFoundException for every kind") {
    val none = scratchDir("graft_noindex") + "/missing"
    intercept[java.io.FileNotFoundException](IvfIndex.load(spark, none))
    intercept[java.io.FileNotFoundException](PqIndex.load(spark, none))
    intercept[java.io.FileNotFoundException](Bpe.load(spark, none))
    intercept[java.io.FileNotFoundException](
      TextAnalysis.loadDocLengths(spark, none))
  }
}
