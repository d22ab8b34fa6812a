package layerbench

import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.ops.CacheScope
import graft.pipeline.{Dedup, IvfIndex, PqIndex}

/** A corpus with planted near-duplicate clusters and clustered
  * embeddings, plus a batch of query vectors, all from a seed. */
object LlmData {
  val Docs = 1500
  val Clusters = 100
  val Vocab = 4000
  val Dims = 32
  val Centers = 20
  val Queries = 64
  val QueryBase = 1000000L

  final case class Doc(id: Long, text: String, emb: Array[Double])
  final case class Data(docs: IndexedSeq[Doc], planted: Seq[Seq[Long]],
                        queries: IndexedSeq[(Long, Array[Double])]) {
    def records: Iterator[Any] = docs.iterator ++ planted.iterator ++ queries.iterator
  }

  def generate(seed: Long): Data = {
    val rng = new Rng(seed)
    val centers = IndexedSeq.fill(Centers)(Array.fill(Dims)(rng.gaussian()))
    def vec() = { val c = centers(rng.int(Centers)); c.map(_ + 0.3 * rng.gaussian()) }
    def words() = IndexedSeq.fill(rng.between(40, 61))(f"w${rng.int(Vocab)}%04d")
    // each planted duplicate differs from its original in one word
    val groups = (0 until Clusters).map { _ =>
      val base = words()
      base +: IndexedSeq.fill(rng.between(1, 4)) { val w = base.toArray; w(rng.int(w.length)) = "edited"; w.toIndexedSeq }
    }
    val texts = groups.flatten ++ IndexedSeq.fill(Docs - groups.map(_.size).sum)(words())
    val ids = rng.shuffle((1L to texts.size.toLong).toIndexedSeq)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i).mkString(" "), vec()))
    var at = 0
    val planted = groups.map { g => val m = ids.slice(at, at + g.size).sorted; at += g.size; m }
    Data(docs.sortBy(_.id), planted, (0 until Queries).map(i => (QueryBase + i, vec())))
  }

  val schema: StructType = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
    StructField("emb", ArrayType(DoubleType, containsNull = false))))

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Workload `llm_batch`: each op is one batch job. Dedup runs
  * minHashLshPairs, dupClusters and removeNearDuplicates; the index
  * builds IVF and residual PQ, saves, loads, then answers the query
  * batch in probe calls. Outputs are checked against the planted
  * duplicates and exact brute-force top-10. */
final class LlmBatch(h: Harness, seed: Long, work: String) extends Workload {
  import LlmData._
  private val spark = h.spark
  private val K = 10
  private val ProbeBatch = 8
  private var data: Data = _
  private var corpusPath: String = _
  private var corpusBytes = 0L
  private var batches = 0
  private val pairsOut = mutable.ArrayBuffer.empty[Set[(Long, Long)]]
  private val clustersOut = mutable.ArrayBuffer.empty[Map[Long, Long]]
  private val keptOut = mutable.ArrayBuffer.empty[Set[Long]]
  private val probesOut = mutable.ArrayBuffer.empty[Seq[(Long, Long, Double)]]

  def prepare(): Unit = {
    data = generate(seed)
    corpusPath = s"$work/llm_corpus"
    spark.createDataFrame(data.docs.map(d => Row(d.id, d.text, d.emb.toSeq)).asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(corpusPath)
    corpusBytes = Disk.bytesUnder(Paths.get(corpusPath))
  }

  /** A batch job keeps no state between batches: nothing to build. */
  def setup(round: Int): Unit = ()

  /** One whole batch, every probe call included: with a single probe
    * call in the warm-up, read_p50_ms and ops_per_s spread about a third
    * wider over ten seeds. */
  def warmUp(): Unit = batch(Queries / ProbeBatch)

  def step(): Unit = batch(Queries / ProbeBatch)

  private def batch(probes: Int): Unit = {
    val dir = s"$work/llm_index_$batches"
    batches += 1
    h.op("batch", "batch") {
      try {
        val corpus = spark.read.parquet(corpusPath)
        val pairs = h.call("pipeline", "minhash")(
          h.collect(Dedup.minHashLshPairs(corpus, "id", "text")))
        val pairsDf = spark.createDataFrame(pairs.toSeq.asJava, StructType(Seq(
          StructField("id1", LongType), StructField("id2", LongType), StructField("est_jaccard", DoubleType))))
        val clusters = h.call("pipeline", "cluster")(h.collect(Dedup.dupClusters(pairsDf)))
        val kept = h.call("pipeline", "remove")(
          h.collect(Dedup.removeNearDuplicates(corpus, pairsDf, "id").select("id")))
        val ivf = h.call("pipeline", "ivf_build") {
          val i = IvfIndex.build(corpus, "id", "emb", nCells = 16, seed = seed); i.cells.count(); i
        }
        val pq = h.call("pipeline", "pq_build") {
          val p = PqIndex.buildResidual(corpus, "id", "emb", ivf, m = 8, nWords = 32, seed = seed)
          p.codes.count(); p
        }
        h.call("pipeline", "index_save") { ivf.save(s"$dir/ivf"); pq.save(s"$dir/pq") }
        val (ivf2, pq2) = h.call("pipeline", "index_load") {
          val i = IvfIndex.load(spark, s"$dir/ivf"); val p = PqIndex.loadResidual(spark, s"$dir/pq", i)
          i.cells.count(); p.codes.count(); (i, p)
        }
        val hits = data.queries.grouped(ProbeBatch).take(probes).flatMap { qs =>
          val q = spark.createDataFrame(qs.map(x => Row(x._1, x._2.toSeq)).asJava,
            StructType(Seq(StructField("id", LongType), StructField("emb", ArrayType(DoubleType, false)))))
          h.call("pipeline", "probe")(h.collect(
            pq2.topKProbed(q, "emb", ivf2, nProbe = 4, k = K, nCandidates = 64)
              .select(col("query_id"), col("neighbor_id"), col("cos"))))
        }.toSeq
        if (h.recording) {
          pairsOut += pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
          clustersOut += clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
          keptOut += kept.map(_.getLong(0)).toSet
          probesOut += hits.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
      } finally CacheScope.releaseAll()
    }
    deleteTree(Paths.get(dir))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete) finally s.close()
    }

  def finish(layers: Option[Layers]): Outcome = {
    val plantedPairs = data.planted.flatMap(g => g.combinations(2).map(x => (x(0), x(1)))).toSet
    val clusterOf = data.planted.flatMap(g => g.map(_ -> g.head)).toMap
    val expectKept = data.docs.map(_.id).filterNot(id => clusterOf.get(id).exists(_ != id)).toSet
    val emb = data.docs.map(d => d.id -> d.emb).toMap
    val exact = data.queries.map { case (q, v) =>
      q -> data.docs.map(d => d.id -> cosine(v, d.emb)).sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
    }.toMap
    val qv = data.queries.toMap
    var bad = 0
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { bad += 1; if (bad <= 3) System.err.println(s"layerbench: check failed: $what") }
    val recalls = for (b <- pairsOut.indices) yield {
      val pairs = pairsOut(b)
      check(pairs.subsetOf(plantedPairs), s"pairs outside the planted clusters: ${(pairs -- plantedPairs).take(3)}")
      check(plantedPairs.forall(p => clustersOut(b).get(p._1).contains(clusterOf(p._1)) &&
        clustersOut(b).get(p._2).contains(clusterOf(p._1))), "a planted cluster was not labelled by its min id")
      check(keptOut(b) == expectKept, s"kept ${keptOut(b).size} docs, want ${expectKept.size}")
      val byQuery = probesOut(b).groupBy(_._1)
      check(byQuery.keySet == qv.keySet, s"${byQuery.size} queries answered, want ${qv.size}")
      val rs = byQuery.toSeq.map { case (q, hits) =>
        check(hits.size == K && hits.map(_._2).distinct.size == K, s"query $q got ${hits.size} neighbours")
        check(hits.forall(x => math.abs(x._3 - cosine(qv(q), emb(x._2))) <= 1e-9), s"query $q: wrong cosine")
        hits.count(x => exact(q)(x._2)).toDouble / K
      }
      (plantedPairs.intersect(pairs).size.toDouble / plantedPairs.size, if (rs.isEmpty) 0.0 else rs.sum / rs.size)
    }
    val annRecall = Stats.median(recalls.map(_._2))
    check(recalls.isEmpty || annRecall >= 0.5, s"ann recall@10 $annRecall below 0.5")
    val calls = h.calls.toSeq
    def p50(name: String) = Stats.median(calls.filter(_.name == name).map(_.ms))
    val layerMetrics = layers.map(l => Map(
      "pipeline.cluster_jobs" -> M(l.jobsUnder("cluster").toDouble / math.max(1, l.traced.size), "count"),
      "pipeline.probe_jobs" -> M(l.jobsUnder("probe").toDouble / math.max(1, l.traced.size), "count"))).getOrElse(Map.empty)
    val batchOps = h.ops.toSeq
    Outcome(
      attempted = calls.size + batchOps.count(!_.ok),
      failed = batchOps.count(!_.ok) + bad,
      reads = calls.filter(_.name == "probe").map(c => c.name -> c.ms),
      readMix = Map("probe" -> 1),
      writes = Nil,
      metrics = Seq("minhash", "cluster", "remove", "ivf_build", "pq_build", "index_save", "index_load", "probe")
        .map(n => s"pipeline.${n}_ms" -> M(p50(n), "ms")).toMap ++ layerMetrics ++ Map(
        "pipeline_s" -> M(Stats.median(batchOps.filter(_.ok).map(_.ms / 1000)), "s"),
        "ann_recall" -> M(annRecall, "ratio"),
        "dup_recall" -> M(Stats.median(recalls.map(_._1)), "ratio")),
      sizes = Map("rows" -> data.docs.size.toDouble, "bytes_on_disk" -> corpusBytes.toDouble,
        "planted_pairs" -> plantedPairs.size.toDouble, "queries" -> data.queries.size.toDouble,
        "batches" -> batchOps.size.toDouble))
  }
}
