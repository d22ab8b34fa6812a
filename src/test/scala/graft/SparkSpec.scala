package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one local session per JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh, empty scratch directory `<prefix><random>` (see
    * [[SparkSpec.scratchDir]]). */
  def scratchDir(prefix: String): String = SparkSpec.scratchDir(prefix)

  /** Every physical node, traversing INTO adaptive plans and
    * materialized query stages — under AQE both are leaf nodes
    * wrapping the real subtrees, so `collect`/`collectLeaves` on the
    * outer plan never reaches scans or joins. */
  def allNodes(n: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = n.flatMap {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allNodes(q.plan)
    case other => Seq(other)
  }

  /** Run `f` and count the Spark jobs it started: its jobs carry a
    * local-property tag, and a tagged no-op job after it marks the end
    * of its events on the listener bus. */
  def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsOf"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `tag` => jobs.incrementAndGet()
          case t if t == tag + "/end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val r = f
      sc.setLocalProperty(key, tag + "/end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (r, jobs.get())
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)

  /** The one parent of every spec's scratch directories, one per test
    * JVM: `<java.io.tmpdir>/graft_specs_<random>`, removed with all it
    * holds when the JVM exits (the gates' `graft_gates_<appId>` root
    * follows the same discipline). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_specs_")
    sys.addShutdownHook(scala.util.Try {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    })
    root
  }

  /** A fresh, empty directory `<prefix><random>` under this JVM's
    * scratch root. */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
}
