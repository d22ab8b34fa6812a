package graft.api

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Smoke: every registered query runs at sf0.001 and returns rows;
  * exact value parity vs DuckDB is checked by tools/oracle_check.py
  * (and the driver's own gate) at sf0.01. */
class QueryCatalogSpec extends SparkSpec {
  // queries whose CORRECT answer is legitimately empty at toy scale:
  // a30's thinned co-occurrence graph has no 16-core at sf0.001 (the
  // cascade peels everything — verified against the unrolled-CTE
  // oracle); at sf0.01 it keeps a 93-node core and the driver gate
  // pins the values. "Runs without error" is the smoke for these.
  private val emptyOkAtToyScale = Set("a30_kcore")

  QueryCatalog.entries.foreach { q =>
    test(s"${q.name} runs and returns rows") {
      val n = q.run(spark, sf).count()
      if (!emptyOkAtToyScale(q.name)) assert(n > 0)
    }
  }

  test("gate scratch: one path per (session, sf-dir, tag), fresh starts empty, parent removed at exit") {
    val path = QueryCatalog.scratch(spark, sf, "spec", fresh = false)
    assert(QueryCatalog.scratch(spark, sf, "spec", fresh = false) == path)
    val child = new Path(path)
    val parent = child.getParent
    assert(parent == new Path(System.getProperty("java.io.tmpdir"),
      "graft_gates_" + spark.sparkContext.applicationId))
    assert(QueryCatalog.scratch(spark, sf + "/other", "spec", fresh = false) != path)
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(child, "stale")).close()
    assert(QueryCatalog.scratch(spark, sf, "spec") == path)
    assert(!fs.exists(child) || fs.listStatus(child).isEmpty)
    // registered exactly once for removal at exit: cancel, then restore
    assert(fs.cancelDeleteOnExit(parent))
    assert(fs.deleteOnExit(parent))
  }

  test("every oracle references only harness tables") {
    QueryCatalog.oracles.values.foreach { sql =>
      assert(!sql.contains(";"), "oracle must be a single statement")
    }
  }

  test("catalog is consistent: unique names, every oracle has a query") {
    val names = QueryCatalog.entries.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).toString)
    assert(QueryCatalog.oracles.keySet.subsetOf(QueryCatalog.queries.keySet))
  }
}
