package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Fixpoint, Kernels}

/** Deduplication operators for training-data pipelines, ordered by
  * cost/recall: exact → n-gram Jaccard (inverted index) → MinHash+LSH
  * (Broder, "On the resemblance and containment of documents", 1997;
  * banding analysis per Leskovec/Rajaraman/Ullman, Mining of Massive
  * Datasets ch.3) → SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002; dedup application
  * per Manku/Jain/Sarma, WWW 2007). All are shuffle-on-key designs
  * that scale horizontally; none collects to the driver.
  */
object Dedup {

  /** Exact dedup on normalized content, keeping the smallest `id` per
    * fingerprint deterministically.
    *
    * CONTRACT: `id` must be unique per row (a document primary key) —
    * the survivor semi-join returns every row bearing a surviving id,
    * so duplicate ids would silently skip deduplication for the rows
    * sharing them. For non-unique ids use
    * [[graft.ops.Kernels.dedupExactKeys]] on the fingerprint, which
    * returns exactly one row per fingerprint at the cost of hauling
    * the full row payload through its aggregation.
    *
    * The survivor set is computed on a pre-projected `(id, md5)` frame
    * — a full-width agg payload would defeat column pruning and drag
    * the document bodies through every shuffle (only 24 bytes/doc
    * shuffle here) — then the surviving rows are fetched back with a
    * semi-join on the id. A downstream projection (e.g. ids only)
    * prunes the probe-side scan to just the id column. */
  def exact(df: DataFrame, id: String, text: String): DataFrame = {
    val survivors = Kernels.ensureParallelism(
        df.select(col(id), TextAnalysis.fingerprintMd5(col(text)).as("__fp")))
      .groupBy(col("__fp")).agg(min(col(id)).as(id))
      .select(col(id))
    df.join(survivors, Seq(id), "left_semi")
  }

  /** Distinct word n-gram shingles, one row per (id, shingle). */
  def shingles(df0: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val df = Kernels.ensureParallelism(df0)
    val toks = TextAnalysis.tokensWs(TextAnalysis.normalize(col(text)))
    // guard: sequence(1, 0) would produce a DESCENDING [1, 0] range
    val idxs = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    df.select(col(id), explode(array_distinct(
        transform(idxs, i => array_join(slice(toks, i, lit(n)), " ")))).as("shingle"))
  }

  /** The hashed form every dedup kernel actually consumes: `(id, h)`
    * with `h` the distinct 64-bit shingle hashes, produced by ONE
    * codegen loop per doc ([[graft.functions.TextExprs.shingle_hashes]])
    * instead of the interpreted transform/array_join/explode/xxhash64
    * composition. Values ≡ `xxhash64(shingle-string)`, so semantics
    * (and the accepted 2⁻⁶⁴ collision odds) are unchanged. */
  def hashedShingles(df0: DataFrame, id: String, text: String,
                     n: Int): DataFrame = {
    val df = Kernels.ensureParallelism(df0)
    val toks = TextAnalysis.tokensWs(TextAnalysis.normalize(col(text)))
    df.select(col(id),
      explode(graft.functions.TextExprs.shingle_hashes(toks, n)).as("h"))
  }

  /** Exact n-gram Jaccard similarity for all pairs above `minJaccard`,
    * via an inverted index on shingles: |A∩B| from a self-join on the
    * shingle, |A|,|B| from per-doc counts.
    *
    * Scale controls: `maxDf` drops shingles occurring in more than
    * that many docs (stopword-shingle suppression — a hot shingle
    * would otherwise quadratically explode the join); the self-join
    * shuffles on the shingle hash, candidate pairs on (id1, id2).
    */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        n: Int = 3, minJaccard: Double = 0.2,
                        maxDf: Option[Int] = None): DataFrame =
    shinglePairStats(df, id, text, n, maxDf)
      .withColumn("jaccard",
        col("ix").cast("double") / (col("n1") + col("n2") - col("ix")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Near-SUBSET detection: containment coefficient C(A,B) =
    * |A∩B| / min(|A|,|B|) over the same word-n-gram shingle sets as
    * [[ngramJaccardPairs]] — the overlap measure Jaccard structurally
    * misses: a short document fully quoted inside a long one has
    * J = |A|/|B| → 0 as the host grows, but C = 1 regardless (the
    * quote/boilerplate/excerpt case every corpus dedup hits; Lee et
    * al. 2022 deduplicate on exactly this asymmetry). Same
    * inverted-index self-join + df-cap scale shape as Jaccard. */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       n: Int = 3, minContainment: Double = 0.9,
                       maxDf: Option[Int] = None): DataFrame =
    shinglePairStats(df, id, text, n, maxDf)
      .withColumn("containment",
        col("ix").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= minContainment)
      .select(col("id1"), col("id2"), col("containment"))

  /** Shared machinery of the exact set-overlap pair measures:
    * (id1, id2, ix, n1, n2) = intersection size + per-doc shingle-set
    * sizes for every co-shingled pair, via the df-capped inverted
    * index self-join. */
  private def shinglePairStats(df: DataFrame, id: String, text: String,
                               n: Int, maxDf: Option[Int]): DataFrame = {
    // join on the 8-byte shingle hash, not the shingle string: the
    // inverted-index self-join shuffles fixed-width longs (collision
    // probability ~ |shingles|²/2⁶⁴ — negligible)
    // read 3× below (doc counts + both join sides); registered in
    // CacheScope — the caller releases after its terminal action
    val sh = CacheScope.persist {
      val s = hashedShingles(df, id, text, n)
        .select(col(id), col("h").as("shingle"))
      maxDf match {
        case Some(cap) =>
          val hot = s.groupBy("shingle").agg(count(lit(1)).as("df"))
            .filter(col("df") > cap).select("shingle")
          s.join(broadcast(hot), Seq("shingle"), "left_anti")
        case None => s
      }
    }
    val counts = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(id).as("id1"), col("shingle"))
    val b = sh.select(col(id).as("id2"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("ix"))
      .join(counts.select(col(id).as("id1"), col("n_sh").as("n1")), Seq("id1"))
      .join(counts.select(col(id).as("id2"), col("n_sh").as("n2")), Seq("id2"))
  }

  /** MinHash signature per doc: k independent permutations simulated
    * by k seeded xxhash64 draws; signature component i =
    * min over shingles of xxhash64(i, shingle). One hash-agg pass
    * (partial-combine: k running minimums per doc — no sort, no
    * signature matrix materialized wider than k columns). */
  def minHashSignatures(df: DataFrame, id: String, text: String,
                        n: Int = 3, k: Int = 32): DataFrame =
    // hash each shingle string ONCE, then derive the k draws from the
    // 8-byte value — k× cheaper than hashing the string k times
    sigsFromHashedShingles(hashedShingles(df, id, text, n), id, k)

  /** The k min-draws over an `(id, h)` hashed-shingle frame — the one
    * place the MinHash draw scheme lives (seed-mixed xxhash64 per
    * component); [[minHashSignatures]] and
    * [[minHashVerifiedDuplicates]] both go through here. */
  private[pipeline] def sigsFromHashedShingles(sh: DataFrame, id: String,
                                               k: Int): DataFrame = {
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"mh_$i"))
    sh.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding: signatures split into `bands` bands of
    * k/bands rows each; docs sharing any band bucket become candidate
    * pairs; pairs are scored by signature agreement (estimated
    * Jaccard) and optionally exact-verified by the caller.
    *
    * Collision math: P(candidate) = 1 - (1 - j^r)^b for r rows/band,
    * b bands — with k=32, b=16, r=2 a j=0.25 pair surfaces w.p. ~0.65,
    * j=0.5 w.p. ~0.99. The bucket join shuffles on (band, bucket-hash)
    * — never all-pairs.
    */
  def minHashLshPairs(df: DataFrame, id: String, text: String,
                      n: Int = 3, k: Int = 32, bands: Int = 16,
                      minEstJaccard: Double = 0.2): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // signature agg is the expensive pass; it feeds both the banding
    // explode and the per-side signature rejoin (caller releases the
    // CacheScope after its terminal action)
    val sigs = CacheScope.persist(minHashSignatures(df, id, text, n, k))
    val sigArr = array((0 until k).map(i => col(s"mh_$i")): _*)
    // dedup candidate pairs on ids only, then rejoin the signatures
    val cand = bandCandidates(sigs, id, k, bands)
    val sigOnly = sigs.withColumn("sig", sigArr).select(col(id), col("sig"))
    cand
      .join(sigOnly.select(col(id).as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(sigOnly.select(col(id).as("id2"), col("sig").as("sig2")), Seq("id2"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          (b: Column) => b)).cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  /** Distinct banding candidate pairs (id1 < id2) from a MinHash
    * signature frame with columns (id, mh_0..mh_{k-1}): each band of
    * k/bands components hashes to a bucket; docs sharing any
    * (band, bucket) pair up. Only (id, band, bucket) flows through
    * the bucket join — signatures/payloads rejoin on ids afterwards. */
  private def bandCandidates(sigs: DataFrame, id: String,
                             k: Int, bands: Int): DataFrame = {
    val withBands = bandBuckets(sigs, id, k, bands)
    val l = withBands.select(col(id).as("id1"), col("band"), col("bucket"))
    val rr = withBands.select(col(id).as("id2"), col("band"), col("bucket"))
    l.join(rr, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** `(id, band, bucket)` LSH banding rows from a signature frame —
    * the one place the band→bucket hash lives, shared by the in-batch
    * candidate join above and the persisted corpus index
    * ([[LshIndex]]), so the two can never disagree on bucketing. */
  private[pipeline] def bandBuckets(sigs: DataFrame, id: String,
                                    k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sigs.select(col(id),
      explode(array((0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          xxhash64(lit(bnd), concat_ws("_",
            (0 until r).map(j => col(s"mh_${bnd * r + j}")): _*)).as("bucket"))): _*))
        .as("bb"))
      .select(col(id), col("bb.band"), col("bb.bucket"))
  }


  /** Equality-verified duplicate pairs via MinHash+LSH: banding
    * candidates verified by exact shingle-SET equality.
    *
    * Recall is exactly 1 *by construction*, not probabilistically:
    * identical shingle sets ⟹ identical MinHash signatures (the
    * signature is a pure function of the set) ⟹ the pair collides in
    * EVERY band. The exact-equality verify keeps precision at 1. That
    * determinism is what lets a SQL oracle (self-join on the set
    * fingerprint) pin the whole LSH pipeline — signatures, banding,
    * bucket join, candidate dedup — in the driver's hash gate.
    * Catches reordered-sentence duplicates that raw-text md5 ([[exact]])
    * misses; sub-1.0 similarity behavior is pinned by PipelineSpec.
    *
    * Single shingle pass, hashes only: signatures AND set
    * fingerprints both derive from one cached `(id, xxhash64)` frame
    * — the shingle strings never leave the scan projection, and the
    * set fingerprint is the order-independent `bit_xor` of the
    * hashes (SQL twin: `bit_xor(hash(g))`) instead of a sorted-string
    * md5, so the verify agg shuffles 8 bytes where it shuffled the
    * shingle text. Equality is up to 64-bit hash collision — the same
    * accepted odds as the shingle-hash join in [[ngramJaccardPairs]]. */
  def minHashVerifiedDuplicates(df: DataFrame, id: String, text: String,
                                n: Int = 3, k: Int = 32, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val sh = CacheScope.persist(hashedShingles(df, id, text, n))
    verifiedDuplicatesFromHashed(sh, id, k, bands)
  }

  /** [[minHashVerifiedDuplicates]] from a precomputed (cached)
    * `(id, h)` hashed-shingle frame — lets a caller that already paid
    * the shingle pass (the streaming corpus-dedup sink) share it
    * across the corpus probe, this in-batch verify, and the index
    * fold instead of re-signaturing three times. */
  private[graft] def verifiedDuplicatesFromHashed(sh: DataFrame, id: String,
                                                  k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val sigs = sigsFromHashedShingles(sh, id, k)
    val cand = bandCandidates(sigs, id, k, bands)
    val fps = sh.groupBy(col(id))
      .agg(expr("bit_xor(h)").as("__sfp"))
    cand
      .join(fps.select(col(id).as("id1"), col("__sfp").as("__f1")), Seq("id1"))
      .join(fps.select(col(id).as("id2"), col("__sfp").as("__f2")), Seq("id2"))
      .filter(col("__f1") === col("__f2"))
      .select(col("id1"), col("id2"))
  }

  /** Per-doc fingerprint of the token MULTISET: md5 of the sorted
    * token stream (duplicates included). SQL-expressible (DuckDB:
    * `md5(array_to_string(list_sort(w), chr(10)))`). Docs with no
    * tokens are absent (mirror in SQL with `trim(text) <> ''`). */
  def tokenMultisetFp(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), sort_array(TextAnalysis.tokensWs(
        TextAnalysis.normalize(col(text)))).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(id), md5(concat_ws("\n", col("__toks"))).as("__mfp"))

  /** Equality-verified duplicate pairs via SimHash banding: candidates
    * from [[simHashPairs]] at hamming 0, verified by exact token-
    * multiset equality. Same recall-1-by-construction argument as
    * [[minHashVerifiedDuplicates]]: the 64-bit SimHash is a pure
    * function of the token multiset, so equal multisets ⟹ equal
    * signatures ⟹ hamming 0 ⟹ every band chunk collides. */
  def simHashVerifiedDuplicates(df: DataFrame, id: String, text: String): DataFrame = {
    val cand = simHashPairs(simHash64(df, id, text), id,
        bands = 8, maxHamming = 0)
      .select(col("id1"), col("id2"))
    // read twice (both join sides) — don't normalize+tokenize+sort
    // the full corpus twice
    val fps = CacheScope.persist(tokenMultisetFp(df, id, text))
    cand
      .join(fps.select(col(id).as("id1"), col("__mfp").as("__f1")), Seq("id1"))
      .join(fps.select(col(id).as("id2"), col("__mfp").as("__f2")), Seq("id2"))
      .filter(col("__f1") === col("__f2"))
      .select(col("id1"), col("id2"))
  }

  /** Cross-corpus overlap (train/test contamination detection): pairs
    * (a, b) with n-gram Jaccard ≥ `minJaccard` where a ∈ corpusA and
    * b ∈ corpusB — the same inverted-index join as
    * [[ngramJaccardPairs]] but across two corpora (no self-join, no
    * triangle filter). The standard benchmark-decontamination primitive. */
  def crossCorpusOverlap(corpusA: DataFrame, corpusB: DataFrame,
                         id: String, text: String,
                         n: Int = 3, minJaccard: Double = 0.5,
                         maxDf: Option[Int] = None): DataFrame = {
    // maxDf caps the A×B join fan-out per shingle at dfA·dfB, the
    // same boilerplate-phrase quadratic [[ngramJaccardPairs]] caps;
    // the df is counted across BOTH corpora so the cap is symmetric
    def shRaw(df: DataFrame) = hashedShingles(df, id, text, n)
      .select(col(id), col("h").as("shingle"))
    val (sa0, sb0) = (shRaw(corpusA), shRaw(corpusB))
    val (saF, sbF) = maxDf match {
      case Some(cap) =>
        val hot = sa0.select("shingle").unionAll(sb0.select("shingle"))
          .groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        (sa0.join(broadcast(hot), Seq("shingle"), "left_anti"),
          sb0.join(broadcast(hot), Seq("shingle"), "left_anti"))
      case None => (sa0, sb0)
    }
    val sa = CacheScope.persist(saF)
    val sb = CacheScope.persist(sbF)
    val ca = sa.groupBy(col(id)).agg(count(lit(1)).as("na"))
    val cb = sb.groupBy(col(id)).agg(count(lit(1)).as("nb"))
    sa.select(col(id).as("id_a"), col("shingle"))
      .join(sb.select(col(id).as("id_b"), col("shingle")), Seq("shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ix"))
      .join(ca.select(col(id).as("id_a"), col("na")), Seq("id_a"))
      .join(cb.select(col(id).as("id_b"), col("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("ix").cast("double") / (col("na") + col("nb") - col("ix")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact duplicate-cluster closure: connected components of the
    * near-dup pair graph, as `(id, cluster)` where `cluster` is the
    * minimum id in the component — the canonical representative the
    * keep-first dedup policy retains.
    *
    * Iterative min-id label propagation with pointer jumping: each
    * round a node takes the min of its own label, its neighbors'
    * labels, and its label's label (path halving). Per round that is
    * one shuffle-join on the edge key plus one self-join on the label
    * key — no all-pairs step, state is one `(id, label)` row per
    * node — and pointer jumping makes rounds ≈ log₂(diameter), so a
    * chain of 10⁶ docs converges in ~20 rounds. The rounds run on
    * [[Fixpoint]]: one checkpoint job each, whose observed count of
    * changed labels is the convergence test.
    *
    * Converged means no label changed in a round, which within a
    * component forces the single value min(component) — the fixpoint
    * is exact, not approximate. `maxIters` is a guard rail (2^50-
    * diameter graphs don't exist); exceeding it throws rather than
    * returning a silently-partial closure. One pointer jump per round
    * is the measured optimum (BENCH_NOTES r18, sf0.1 A/B): no jump
    * stalls hash-to-min on chain graphs (>20 rounds), two leave the
    * round count unchanged (merge dynamics, not pointer depth, bound
    * it) while the extra self-join doubles the per-round cost. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val e0 = pairs.select(col("id1").as("src"), col("id2").as("dst"))
    // cache PARTITIONED ON THE JOIN KEY: the per-round join then
    // reuses the cached distribution (InMemoryRelation preserves hash
    // partitioning), so each round shuffles only the label frame —
    // at edge scale the dominant per-round cost otherwise
    val edges = CacheScope.persist(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(col("dst")))
    // seed with min(self, neighbors) — round 1 fused into init; a
    // node's label before it was its own id
    val seed = edges
      .groupBy(col("dst").as("id"))
      .agg(min(least(col("dst"), col("src"))).as("label"))
      .select(col("id"), col("label"), col("id").as("__old"),
        (col("label") =!= col("id")).as("__changed"))
    val run = Fixpoint.run(seed, maxIters, Some(count_if(col("__changed")))) {
      (prev, _) =>
        val labels = prev.select(col("id"), col("label"))
        val labelT = prev.schema("label").dataType
        val viaEdges = edges
          .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
          .select(col("src").as("id"), col("label"),
            lit(null).cast(labelT).as("__old"))
        // hash-to-min representative merge (Rastogi et al., "Finding
        // Connected Components in Map-Reduce", ICDE 2013): every node
        // whose min DROPPED last round forwards the new min to the
        // representative it just left behind, so two touching clusters
        // merge at their representatives in one round and the jump below
        // redistributes — without this, neighbor-min + path-halving
        // alone creeps hop-by-hop along chain graphs (observed: >50
        // rounds on a long n_chars chain that this converges in ~6).
        // The messages lag one round (read FREE off the previous
        // round's state, no extra aggregation), which at most delays
        // convergence by a round.
        val msgs = prev.filter(col("__changed"))
          .select(col("__old").as("id"), col("label"),
            lit(null).cast(labelT).as("__old"))
        // the previous label threads THROUGH the min-aggregation (every
        // id has exactly one labels row, so max(__old) recovers it), so
        // the round's changed flag needs no join against the old labels
        val stepped = labels.withColumn("__old", col("label"))
          .unionByName(viaEdges).unionByName(msgs)
          .groupBy("id").agg(min("label").as("label"), max("__old").as("__old"))
        // pointer jump: label := label(label) (always ≤ — a node's own
        // label row is the min over a set containing itself)
        stepped
          .join(stepped.select(col("id").as("label"), col("label").as("__pl")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("__pl"), col("label")).as("label"),
            col("__old"))
          .withColumn("__changed", col("label") =!= col("__old"))
    }
    if (!run.converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIters rounds")
    run.state.select(col("id"), col("label").as("cluster"))
  }

  /** Apply a near-dup pair set: drop every doc that is not its
    * cluster's keeper.
    *
    * `exact = false` (default): the standard greedy keep-first policy
    * training pipelines use — drop every doc with a smaller-id partner.
    * Each cluster keeps exactly its minimum id when the pair relation
    * covers the cluster, which high-threshold LSH pairs do in
    * practice. The miss is a chained component where some node's
    * partners are all LARGER ids: for edges (1,3) and (2,3) — one
    * component {1,2,3}, but 2~3 only through 3 — greedy drops only 3,
    * and 2 survives alongside 1.
    *
    * `exact = true`: close the pair relation first with
    * [[dupClusters]] and keep exactly one doc (the min id) per
    * connected component — correct on chains at the cost of the
    * iterative closure. */
  def removeNearDuplicates(df: DataFrame, pairs: DataFrame, id: String,
                           exact: Boolean = false): DataFrame =
    if (!exact)
      df.join(pairs.select(col("id2").as(id)).distinct(), Seq(id), "left_anti")
    else
      df.join(dupClusters(pairs).filter(col("id") =!= col("cluster"))
          .select(col("id").as(id)),
        Seq(id), "left_anti")

  /** QUALITY-AWARE duplicate resolution — the step that completes the
    * dedup story for a training pipeline: [[removeNearDuplicates]]
    * keeps each cluster's MIN-ID doc, but real corpus builds keep the
    * BEST one (longest, highest quality score, freshest crawl). Given
    * near-dup pairs from any generator (exact, Jaccard, MinHash,
    * SimHash, semantic), this closes them transitively
    * ([[dupClusters]]), elects per cluster the doc maximizing
    * `(quality, −id)` — the id tie-break makes the choice
    * total-ordered and reproducible — and returns the corpus with
    * every non-elected cluster member dropped. Docs appearing in no
    * pair pass through untouched.
    *
    * Scale shape: cluster labels exist only for docs that appear in
    * some pair (≪ corpus at real dup rates); the election is one
    * max_by hash aggregation over that slice (map-side combined, one
    * row per cluster); the final drop is a keyed LEFT ANTI join of
    * the corpus against the loser ids. Nothing here is ever
    * O(corpus²) — the pair generator already paid the banding/
    * prefix-filter cost to avoid that. */
  def resolveDuplicates(docs: DataFrame, id: String, pairs: DataFrame,
                        quality: String): DataFrame = {
    val members = docs
      .join(dupClusters(pairs).withColumnRenamed("id", id), Seq(id))
      .select(col("cluster"), col(id).as("__mid"),
        col(quality).as("__q"))
    val losers = members
      .join(members.groupBy("cluster")
          .agg(max_by(col("__mid"),
            struct(col("__q"), -col("__mid"))).as("__keep")),
        Seq("cluster"))
      .filter(col("__mid") =!= col("__keep"))
      .select(col("__mid").as(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** 64-bit SimHash per doc: each token hashes to 64 bits; bit i of
    * the signature is the sign of Σ_tokens (±1 by token bit i).
    * Computed as 64 conditional sums in one hash aggregation. */
  def simHash64(df0: DataFrame, id: String, text: String): DataFrame = {
    val df = Kernels.ensureParallelism(df0)
    // one codegen pass per DOC (graft.functions.SimHash64): the
    // distinct-token counting and the 64 signed bit sums run in a
    // per-row loop — no explode, no (id, token) shuffle, no 64-column
    // aggregate. Signatures are bit-identical to the two-stage
    // DataFrame formulation (same per-token xxhash64, same >0
    // threshold; pinned by PipelineSpec). Token-less docs stay absent,
    // matching the exploded form.
    val toks = TextAnalysis.tokensWs(TextAnalysis.normalize(col(text)))
    df.select(col(id),
        graft.functions.TextExprs.simhash64(toks).as("simhash"),
        size(toks).as("__ntok"))
      .filter(col("__ntok") > 0)
      .drop("__ntok")
  }

  /** SimHash near-dup candidates: band the 64-bit signature into
    * `bands` chunks; docs sharing any chunk value are candidates
    * (pigeonhole: any pair with hamming < bands must share a chunk);
    * verify with exact popcount of XOR ≤ maxHamming. */
  def simHashPairs(sigs0: DataFrame, id: String,
                   bands: Int = 8, maxHamming: Int = 7): DataFrame = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    // both join sides derive from the signatures — compute them once
    // (caller releases the CacheScope after its terminal action)
    val sigs = CacheScope.persist(sigs0)
    val chunks = sigs.select(col(id), col("simhash"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("cidx"),
          shiftright(col("simhash"), j * width).bitwiseAND(mask).as("chunk"))): _*))
        .as("cc"))
      .select(col(id), col("simhash"), col("cc.cidx"), col("cc.chunk"))
    val l = chunks.select(col(id).as("id1"), col("simhash").as("s1"),
      col("cidx"), col("chunk"))
    val r = chunks.select(col(id).as("id2"), col("simhash").as("s2"),
      col("cidx"), col("chunk"))
    l.join(r, Seq("cidx", "chunk"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("s1"), col("s2")).distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** EXACT edit-distance pairs: all (id1 < id2) with
    * levenshtein(a, b) ≤ `tau`, NEVER by comparing all pairs. The
    * typo/near-identical-revision dedup measure — set-based measures
    * (Jaccard/containment) are blind to small in-word edits that
    * shift every surrounding shingle.
    *
    * Candidate generation (Gravano et al., "Approximate string joins
    * in a database (almost) for free", VLDB 2001; bound per Ukkonen
    * 1992): ed(a,b) ≤ τ ⇒ (i) lengths differ by ≤ τ, and (ii) their
    * char-q-gram MULTISETS share ≥ max(|a|,|b|) − q + 1 − q·τ
    * occurrences. So: explode each string to hashed q-grams with
    * per-doc occurrence counts, inverted-index self-join on the 8-byte
    * gram hash with the length band applied in the join condition,
    * sum of per-gram min-counts = multiset intersection, keep pairs
    * meeting the count bound, and verify each survivor with ONE
    * τ-bounded levenshtein (O(τ·len) per pair, not O(len²)).
    *
    * Strings short enough that the count bound is vacuous
    * (max len ≤ q·(τ+1) − 1 — such a pair can share ZERO q-grams and
    * still be within τ) go through a separate short-band pass joined
    * only on the length band; the gram path excludes them, so the
    * union is exact and duplicate-free. For q ≥ 2 a string with no
    * grams at all (len < q) can only pair within the short band,
    * so nothing is missed.
    *
    * Scale: the inverted-index join shuffles (gram-hash, count) longs;
    * `maxDf` caps hot grams (df docs → O(df²) candidate pairs) as an
    * explicit RECALL control — dropping a gram only loses candidates,
    * never admits a false positive (the exact verify guards). The
    * short band is a self-join over only the ≤ q·(τ+1)−1-char strings
    * — a negligible slice of a real corpus; cap τ to keep it so. */
  /** Cross-document repeated-span detection — the EXACT SUBSTRING
    * layer of training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: verbatim
    * spans repeated across documents are what models memorize, and
    * document-level near-dup misses them entirely): every length-`n`
    * token window is hashed (xxhash64 over the space-joined window —
    * the published suffix-array approach finds the same spans; a
    * distributed engine gets them from a shingle inverted index at a
    * 2^-64 collision contract, the repo's standing minhash/bloom
    * convention), windows are counted per DISTINCT document, and each
    * document reports how many of its window positions start a span
    * shared with at least one OTHER document.
    *
    * Scale shape: the shuffled unit is an 8-byte hash + doc id, never
    * text; the per-gram doc count is a mergeable two-level agg; the
    * final probe is a semi-join of the position stream against the
    * duplicated-gram keys (result cost ∝ duplicated positions). No
    * df-cap is needed — unlike pair mining (O(df²) per gram), span
    * counting is linear in postings. Downstream, a masker can cut the
    * flagged windows; this operator deliberately reports positions,
    * the decision layer stays separate. */
  def duplicateSpans(df: DataFrame, id: String, text: String,
                     n: Int = 8): DataFrame = {
    val toks = TextAnalysis.tokensWs(TextAnalysis.normalize(col(text)))
    // sequence() DESCENDS when stop < start — guard short docs to an
    // empty window list instead
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => xxhash64(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))
    val g = Kernels.ensureParallelism(df)
      .select(col(id), explode(grams).as("__gram"))
    val cached = CacheScope.persist(g)
    val dup = cached.groupBy(col("__gram"))
      .agg(count_distinct(col(id)).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("__gram"))
    cached.join(dup, Seq("__gram"), "left_semi")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_dup_spans"))
  }

  /** BENCHMARK DECONTAMINATION, exact-window variant — the GPT-3/PaLM
    * style n-gram overlap check against an eval set: a corpus document
    * is contaminated when ANY length-`n` token window appears VERBATIM
    * in a benchmark document. [[crossCorpusOverlap]]'s Jaccard cannot
    * see this class (a long web page embedding one benchmark question
    * has near-zero document Jaccard but must be flagged); conversely a
    * paraphrase that fools this check still trips the Jaccard layer —
    * run both, they are complementary.
    *
    * Returns one row per contaminated corpus doc:
    * `(id, n_contaminated_spans)` — the count of window POSITIONS
    * whose n-gram occurs anywhere in the benchmark (a masker can then
    * cut them; the keep/drop policy stays a separate layer).
    *
    * Scale shape ([[duplicateSpans]]'s contract): windows travel as
    * 8-byte xxhash64 values, never text; the benchmark's distinct gram
    * set is eval-sized (tiny next to a training corpus), so the
    * semi-join build side broadcasts; corpus cost is one linear
    * window-enumeration pass + the semi-join — no pair space at all.
    * Hash matching carries the repo's standing 2^-64 collision
    * contract. */
  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame,
                         id: String, text: String, n: Int = 8): DataFrame = {
    def gramsOf(df: DataFrame): DataFrame = {
      val toks = TextAnalysis.tokensWs(TextAnalysis.normalize(col(text)))
      // sequence() DESCENDS when stop < start — guard short docs
      val grams = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => xxhash64(concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array().cast("array<bigint>"))
      Kernels.ensureParallelism(df)
        .select(col(id), explode(grams).as("__gram"))
    }
    val bench = gramsOf(benchmark).select("__gram").distinct()
    gramsOf(corpus).join(bench, Seq("__gram"), "left_semi")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_contaminated_spans"))
  }

  def editDistancePairs(df0: DataFrame, id: String, text: String,
                        tau: Int, q: Int = 3,
                        maxDf: Option[Int] = None): DataFrame = {
    require(q >= 2, s"q must be >= 2 for the short-band split, got $q")
    val df = Kernels.ensureParallelism(df0)
    // texts read by gram build + both verify probes — one scan, cached
    val base = CacheScope.persist(df.select(
      col(id), col(text).as("__t"), length(col(text)).as("__len")))
    val shortMax = q * (tau + 1) - 1
    val idxs = when(col("__len") >= q,
        sequence(lit(1), col("__len") - (q - 1)))
      .otherwise(array().cast("array<int>"))
    val grams0 = base.select(col(id), col("__len"),
        explode(transform(idxs,
          i => xxhash64(col("__t").substr(i, lit(q))))).as("g"))
      .groupBy(col(id), col("__len"), col("g"))
      .agg(count(lit(1)).as("c"))
    val grams = maxDf match {
      case Some(cap) =>
        val hot = grams0.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("g")
        grams0.join(broadcast(hot), Seq("g"), "left_anti")
      case None => grams0
    }
    // PREFIX FILTERING (Ed-Join — Xiao/Wang/Lin, PVLDB 2008), exact:
    // τ edits destroy ≤ q·τ grams, so a within-τ pair shares
    // ≥ l_max−q+1−q·τ gram occurrences — by the prefix-filter lemma
    // it must then share ≥ 1 occurrence among each doc's FIRST
    // q·τ+1 occurrences under ONE global total order. Ordering
    // rarest-first means the self-join only ever touches each doc's
    // rarest grams: hot grams ("the"-class, df ≈ corpus size — whose
    // df² join rows made the uncapped index join quadratic) never
    // enter the candidate join at all, and the bound is still
    // LOSSLESS (pairs too short for the lemma's LB ≥ 1 are exactly
    // the ≤ shortMax band below).
    val p = q * tau + 1
    val freq = grams.groupBy(col("g")).agg(sum(col("c")).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("__df"), col("g"))
    val pre = grams.join(freq, Seq("g"))
      .withColumn("__cum", sum(col("c")).over(w))
      .filter(col("__cum") - col("c") < p) // any occurrence in prefix
      .select(col(id), col("__len"), col("g"))
    val a = pre.select(col(id).as("id1"), col("__len").as("len1"), col("g"))
    val b = pre.select(col(id).as("id2"), col("__len").as("len2"), col("g"))
    val gramCand = a.join(b, Seq("g"))
      .filter(col("id1") < col("id2") &&
        abs(col("len1") - col("len2")) <= tau &&
        greatest(col("len1"), col("len2")) > shortMax)
      .select(col("id1"), col("id2")).distinct()
    // short band: equi-join on a length bin of width τ+1 (pairs within
    // τ land in the same or adjacent bins; left exploded to ±1 bins →
    // each pair matches exactly once) — no nested-loop/cartesian plan
    val binW = tau + 1
    val shorts = base.filter(col("__len") <= shortMax).select(col(id),
      col("__len"), (col("__len") / binW).cast("long").as("__bin"))
    val shortCand = shorts.select(col(id).as("id1"), col("__len").as("len1"),
        explode(array(col("__bin") - 1, col("__bin"), col("__bin") + 1))
          .as("__bin"))
      .join(shorts.select(col(id).as("id2"), col("__len").as("len2"),
        col("__bin")), Seq("__bin"))
      .filter(col("id1") < col("id2") &&
        abs(col("len1") - col("len2")) <= tau)
      .select(col("id1"), col("id2"))
    gramCand.unionByName(shortCand)
      .join(base.select(col(id).as("id1"), col("__t").as("__t1")), Seq("id1"))
      .join(base.select(col(id).as("id2"), col("__t").as("__t2")), Seq("id2"))
      .withColumn("ed", levenshtein(col("__t1"), col("__t2"), tau))
      .filter(col("ed").between(0, tau)) // bounded DP returns -1 past tau
      .select(col("id1"), col("id2"), col("ed").cast("long").as("ed"))
  }
}
