package graft.ops

import graft.SparkSpec
import graft.SparkEntry

/** Pins the no-cache-leak contract: after any catalog query's terminal
  * action plus a CacheScope release, no persistent RDDs survive in the
  * session — a long-lived 100 TB session must not accumulate cached
  * shingle/signature/vector frames across queries. */
class CacheScopeSpec extends SparkSpec {

  private val cacheHeavy =
    Seq("d1_exact_dedup", "d2_ngram_jaccard", "d3_minhash_lsh",
      "d4_simhash_pairs", "d6_cross_corpus_overlap",
      "e2_embedding_near_dup", "e3_ivf_topk",
      // Fixpoint loops: every intermediate round freed, the last
      // released with the scope
      "d7_dup_clusters", "d11_dedup_resolve", "a24_pagerank_directed",
      "a25_personalized_pagerank", "a26_hits", "a28_bfs_hops",
      "a30_kcore", "a31_shortest_paths", "a36_connected_components")

  test("no persistent RDDs survive a released catalog query") {
    CacheScope.releaseAll() // clean slate (other suites share the JVM)
    // releaseAll is non-blocking; poll briefly for the executor to drop blocks
    def drained: Boolean = (1 to 50).exists { _ =>
      if (spark.sparkContext.getPersistentRDDs.isEmpty) true
      else { Thread.sleep(100); false }
    }
    assert(drained, "pre-existing persistent RDDs did not drain")
    cacheHeavy.foreach { name =>
      SparkEntry.queries(name)(spark, sf).count() // terminal action
      CacheScope.releaseAll()
      assert(drained,
        s"$name leaked persistent RDDs: " +
          spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
    }
  }

  test("releaseAll is idempotent and safe on an empty scope") {
    CacheScope.releaseAll()
    CacheScope.releaseAll()
    assert(CacheScope.size == 0)
  }
}
