package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.pipeline.{Bpe, Cluster, Dedup, LshIndex, Multimodal, Similarity, Sq, TextAnalysis, MediaRecord}
import QueryCatalog.{scratch, t}

/** Batch 3: the training-data pipeline operators — text analysis,
  * deduplication, similarity search, multimodal plumbing — over the
  * `documents` / `embeddings` tables.
  *
  * Hash-based ops (MinHash, SimHash, hyperplane LSH) are gated
  * through their equality-verified forms: the gate query plants exact
  * duplicates (id-shifted copies, as d1 does), for which LSH recall
  * is exactly 1 *by construction* — identical input ⟹ identical
  * signature ⟹ collision in every band — so the full signature/
  * banding/bucket-join/verify pipeline is pinned by a SQL oracle
  * (self-join on a content fingerprint). Sub-1.0 similarity recall is
  * data-dependent by nature and is pinned by PipelineSpec on fixed
  * corpora instead.
  */
object PipelineQueries {
  /** DuckDB mirror of TextAnalysis.normalize ('g' = replace ALL —
    * DuckDB's regexp_replace is first-match-only by default). */
  private[api] val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  /** NULL-safe twin for the BPE gates (t26/t27/t29) ONLY: their Spark
    * side coalesces NULL text to "" (one bad row degrades to 0 tokens
    * instead of NPE-ing the mapPartitions pass), so their oracles must
    * coalesce the SAME way or a NULL row hash-mismatches the gate.
    * Every other t-gate keeps the NULL-propagating [[normSql]] — their
    * Spark sides are pure columns where NULL propagates identically
    * on both engines. */
  private[api] val bpeNormSql =
    "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"
  private val toksSql =
    s"regexp_split_to_array($normSql, '\\s+')"
  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter($toksSql, x -> list_contains(" +
      words.mkString("['", "','", "']") + ", x)))"

  /** Session-scoped location of the persisted term index over this
    * corpus (t13/t16 share it; first caller builds it). */
  private def termIndexRoot(s: SparkSession, dir: String): String =
    scratch(s, dir, "termidx", fresh = false)

  /** Session-scoped location of the POSITIONAL index (t30) — kept
    * separate from [[termIndexRoot]] so t13/t16's position-free
    * postings stay lean (positions are opt-in storage weight). */
  private def posIndexRoot(s: SparkSession, dir: String): String =
    scratch(s, dir, "posidx", fresh = false)

  /** Query-term postings through the STORED bucketed index
    * ([[TextAnalysis.saveTermIndex]]), building the index on first
    * use — the deploy shape: index once, partition-pruned probes per
    * query. */
  private def storedTermPostings(s: SparkSession, dir: String,
                                 terms: Seq[String]): DataFrame = {
    val root = termIndexRoot(s, dir)
    if (!TextAnalysis.termIndexExists(s, root))
      TextAnalysis.saveTermIndex(t(s, dir, "documents"), "doc_id", "text",
        root, nBuckets = 64)
    TextAnalysis.loadTermPostings(s, root, terms)
  }

  val entries: Seq[Q] = Seq(

    Q("t1_token_stats",
      // token counting: whitespace tokens + BPE-ish pre-tokens
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          TextAnalysis.nTokensWs(col("text")).as("n_tok_ws"),
          TextAnalysis.nTokensFine(col("text")).as("n_tok_fine"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, len(text) AS n_chars, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok_ws, " +
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_tok_fine " +
        "FROM documents ORDER BY doc_id")),

    Q("t2_quality_score",
      // length/punct/stopword quality features + scalar score
      (s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("quality_score"), 2).as("quality_score"))
        .orderBy("doc_id"),
      Some("WITH f AS (SELECT doc_id, len(text) AS nc, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS nt, " +
        "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS np, " +
        hitsSql(TextAnalysis.stopwordsEn) + " AS nsw FROM documents) " +
        "SELECT doc_id, nt AS n_tokens, " +
        "round(CASE WHEN nt > 0 THEN CAST(nc - (nt - 1) AS DOUBLE) / nt ELSE 0.0 END, 6) AS avg_token_len, " +
        "round(CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0.0 END, 6) AS punct_ratio, " +
        "round(CASE WHEN nt > 0 THEN CAST(nsw AS DOUBLE) / nt ELSE 0.0 END, 6) AS stopword_ratio, " +
        "round((CASE WHEN nt BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END + " +
        "CASE WHEN (CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0.0 END) < 0.2 THEN 0.3 ELSE 0.0 END + " +
        "CASE WHEN (CASE WHEN nt > 0 THEN CAST(nsw AS DOUBLE) / nt ELSE 0.0 END) > 0.01 THEN 0.3 ELSE 0.0 END), 2) AS quality_score " +
        "FROM f ORDER BY doc_id")),

    Q("t3_langid",
      // n-gram/stopword language ID vs the labeled lang column
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .orderBy("doc_id"),
      Some("WITH f AS (SELECT doc_id, lang, " +
        hitsSql(TextAnalysis.stopwordsEn) + " AS en, " +
        hitsSql(TextAnalysis.stopwordsDe) + " AS de, " +
        hitsSql(TextAnalysis.stopwordsEs) + " AS es, " +
        hitsSql(TextAnalysis.stopwordsFr) + " AS fr FROM documents) " +
        "SELECT doc_id, lang, CASE " +
        "WHEN en >= de AND en >= es AND en >= fr THEN 'en' " +
        "WHEN de >= es AND de >= fr THEN 'de' " +
        "WHEN es >= fr THEN 'es' ELSE 'fr' END AS predicted " +
        "FROM f ORDER BY doc_id")),

    Q("t4_fingerprint",
      // md5 content fingerprint + Karp-Rabin rolling hash (both over
      // normalized text, exact integer arithmetic)
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
          TextAnalysis.rollingHash(col("text")).as("fp_roll"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, md5($normSql) AS fp_md5, " +
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(string_split($normSql, ''), x -> CAST(ascii(x) AS BIGINT))), " +
        "(acc, x) -> (acc * 31 + x) % 1000000007) AS fp_roll " +
        "FROM documents ORDER BY doc_id")),

    Q("d1_exact_dedup",
      // exact dedup: originals ∪ shifted-id copies → survivors are
      // exactly the originals (deterministic min-id per fingerprint)
      (s, dir) => {
        val d = t(s, dir, "documents")
        val dup = d.withColumn("doc_id", col("doc_id") + 10000000L)
        Dedup.exact(d.unionByName(dup), "doc_id", "text")
          .select(col("doc_id")).orderBy("doc_id")
      },
      Some("SELECT min(doc_id) AS doc_id FROM (" +
        "SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000000, text FROM documents) " +
        s"GROUP BY md5($normSql) ORDER BY doc_id")),

    Q("d2_ngram_jaccard",
      // exact word-3-gram Jaccard pairs ≥ 0.2 via inverted index.
      // maxDf=20 caps the inverted-index self-join: a shingle in df
      // docs contributes O(df²) candidate pairs, so an uncapped hot
      // shingle (a boilerplate phrase at 100 TB) is quadratic; the cap
      // bounds it at df·20 pairs per shingle. Mirrored in the oracle
      // (HAVING count(*) <= 20 on the shingle df) — the cap is part of
      // the operator's contract, not an approximation.
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", n = 3, minJaccard = 0.2, maxDf = Some(20))
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2"),
      Some("WITH toks AS (SELECT doc_id, " + toksSql + " AS w FROM documents), " +
        "pos AS (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 3 THEN " +
        "generate_series(1, len(w) - 2) ELSE [] END) AS i FROM toks), " +
        "sh0 AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g FROM pos), " +
        "sh AS (SELECT * FROM sh0 WHERE g NOT IN " +
        "(SELECT g FROM sh0 GROUP BY g HAVING count(*) > 20)), " +
        "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix " +
        "FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id1, id2, round(j, 6) AS jaccard FROM (" +
        "SELECT id1, id2, CAST(ix AS DOUBLE) / (c1.n + c2.n - ix) AS j FROM inter " +
        "JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2) " +
        "WHERE j >= 0.2 ORDER BY id1, id2")),

    Q("d5_containment_pairs",
      // containment near-SUBSET pairs ≥ 0.9 (Dedup.containmentPairs):
      // the corpus is documents ∪ planted 10-token-prefix snippets
      // (id-shifted) — a snippet's shingle set is contained in its
      // original by construction, the asymmetry Jaccard misses. Both
      // engines compute the EXACT same shingle sets, so incidental
      // cross-doc containment (the 31-term vocabulary makes shingles
      // collide) matches too. df-cap mirrored in the oracle like d2.
      (s, dir) => {
        val d = t(s, dir, "documents")
        val snip = d.select((col("doc_id") + 10000000L).as("doc_id"),
          array_join(slice(TextAnalysis.tokensWs(
            TextAnalysis.normalize(col("text"))), 1, 10), " ").as("text"))
        Dedup.containmentPairs(
            d.select("doc_id", "text").unionByName(snip),
            "doc_id", "text", n = 3, minContainment = 0.9, maxDf = Some(20))
          .select(col("id1"), col("id2"),
            round(col("containment"), 6).as("containment"))
          .orderBy("id1", "id2")
      },
      Some("WITH corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000000, " +
        s"array_to_string(($toksSql)[1:10], ' ') FROM documents), " +
        "toks AS (SELECT doc_id, regexp_split_to_array(" +
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS w " +
        "FROM corpus), " +
        "pos AS (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 3 THEN " +
        "generate_series(1, len(w) - 2) ELSE [] END) AS i FROM toks), " +
        "sh0 AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g FROM pos), " +
        "sh AS (SELECT * FROM sh0 WHERE g NOT IN " +
        "(SELECT g FROM sh0 GROUP BY g HAVING count(*) > 20)), " +
        "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix " +
        "FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id1, id2, round(c, 6) AS containment FROM (" +
        "SELECT id1, id2, CAST(ix AS DOUBLE) / least(c1.n, c2.n) AS c FROM inter " +
        "JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2) " +
        "WHERE c >= 0.9 ORDER BY id1, id2")),

    Q("d8_edit_pairs",
      // exact Levenshtein ≤ 10 pairs (Dedup.editDistancePairs): the
      // q-gram count bound + length band generate candidates from an
      // inverted index (never all-pairs); each survivor is verified
      // with one τ-bounded levenshtein. The oracle computes the same
      // measure the direct way — DuckDB's levenshtein over the
      // length-banded pairs — so the prefilter's exactness (no lost
      // pair, no false positive) is what this gate pins.
      (s, dir) => Dedup.editDistancePairs(t(s, dir, "documents"),
          "doc_id", "text", tau = 10, q = 3)
        .orderBy("id1", "id2"),
      // the banded pairs are MATERIALIZED first so the levenshtein
      // projection runs parallel over the pair table (inlined, DuckDB
      // evaluates it inside the single-threaded inequality-join
      // pipeline: 28 s → 2.6 s at sf0.01, hash-identical at both
      // correctness SFs — measured r20)
      Some("WITH p AS MATERIALIZED (SELECT a.doc_id AS id1, " +
        "b.doc_id AS id2, a.text AS ta, b.text AS tb " +
        "FROM documents a JOIN documents b ON a.doc_id < b.doc_id " +
        "AND abs(length(a.text) - length(b.text)) <= 10) " +
        "SELECT id1, id2, ed FROM (SELECT id1, id2, " +
        "CAST(levenshtein(ta, tb) AS BIGINT) AS ed FROM p) " +
        "WHERE ed <= 10 ORDER BY 1, 2")),

    Q("d9_dup_spans",
      // cross-document repeated-span detection (Dedup.duplicateSpans;
      // Lee et al. 2022 exact-substring dedup): every 8-token window
      // is hashed, windows seen in ≥2 distinct docs are duplicated
      // spans, and each doc reports its count of duplicated window
      // positions. The corpus is originals ∪ shifted-id copies of the
      // low half, so every low-half window is a planted cross-doc dup
      // while the high half contributes only organically repeated
      // spans — the oracle recomputes the same windows from the
      // literal token strings (the hash path must lose/invent nothing).
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val half = d.filter(col("doc_id") % 2 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L)
        Dedup.duplicateSpans(d.unionByName(half), "doc_id", "text", n = 8)
          .orderBy("doc_id")
      },
      Some("WITH corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000000, text FROM documents " +
        "WHERE doc_id % 2 = 0), " +
        s"toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk " +
        "FROM corpus), " +
        "g AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gram " +
        "FROM toks, unnest(generate_series(1, len(tk) - 7)) AS u(i)), " +
        "d AS (SELECT gram FROM g GROUP BY gram " +
        "HAVING count(DISTINCT doc_id) > 1) " +
        "SELECT doc_id, count(*) AS n_dup_spans FROM g " +
        "WHERE gram IN (SELECT gram FROM d) " +
        "GROUP BY doc_id ORDER BY doc_id")),

    Q("d14_contamination",
      // benchmark decontamination, exact-window variant
      // (Dedup.contaminationSpans; the GPT-3/PaLM n-gram overlap
      // check): every doc_id % 5 == 0 document plays the eval set,
      // the rest the training corpus; a corpus doc is contaminated
      // when any 8-token window appears verbatim in the benchmark —
      // the class d6's document-Jaccard cannot see. Windows travel as
      // hashes; the oracle recomputes from literal token strings, so
      // the hash path must lose/invent nothing.
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        Dedup.contaminationSpans(
            d.filter(col("doc_id") % 5 =!= 0),
            d.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", n = 8)
          .orderBy("doc_id")
      },
      Some(s"WITH toks AS (SELECT doc_id, string_split($normSql, ' ') " +
        "AS tk FROM documents), " +
        "g AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gram " +
        "FROM toks, unnest(generate_series(1, len(tk) - 7)) AS u(i)), " +
        "bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 5 = 0) " +
        "SELECT doc_id, count(*) AS n_contaminated_spans FROM g " +
        "WHERE doc_id % 5 <> 0 AND gram IN (SELECT gram FROM bg) " +
        "GROUP BY doc_id ORDER BY doc_id")),

    Q("d11_dedup_resolve",
      // quality-aware duplicate RESOLUTION (Dedup.resolveDuplicates):
      // near-dup pairs (same lang, n_chars within 1 — built from two
      // EQUI-joins, never a range predicate) close transitively into
      // clusters, each cluster elects its best doc (max n_chars, tie
      // → min doc_id), and the corpus drops every loser — the step
      // that actually shrinks a training corpus after d1–d10 generate
      // pairs. The oracle replays the closure by recursive-CTE
      // reachability (the a36 form) and the election by rank.
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val a = d.select(col("lang"), col("doc_id").as("id1"),
          col("n_chars").as("n1"))
        val b = d.select(col("lang"), col("doc_id").as("id2"),
          col("n_chars").as("n2"))
        val pairs = a.join(b, Seq("lang"))
          .filter(col("n2") === col("n1") && col("id1") < col("id2"))
          .unionByName(a.withColumn("n1", col("n1") + 1)
            .join(b, Seq("lang"))
            .filter(col("n2") === col("n1") && col("id1") =!= col("id2")))
          .select(col("id1"), col("id2"))
        graft.pipeline.Dedup.resolveDuplicates(d, "doc_id", pairs, "n_chars")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("WITH RECURSIVE " +
        "d AS (SELECT doc_id, lang, n_chars FROM documents), " +
        "e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM d a JOIN d b " +
        "ON a.lang = b.lang AND b.n_chars BETWEEN a.n_chars AND a.n_chars + 1 " +
        "AND a.doc_id <> b.doc_id), " +
        "edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0), " +
        "reach AS (SELECT src AS id, dst AS r FROM edges " +
        "UNION SELECT reach.id, edges.dst FROM reach JOIN edges " +
        "ON reach.r = edges.src), " +
        "labels AS (SELECT id, least(id, min(r)) AS cluster FROM reach " +
        "GROUP BY id), " +
        "m AS (SELECT l.cluster, dd.doc_id, dd.n_chars FROM labels l " +
        "JOIN d dd ON dd.doc_id = l.id), " +
        "canon AS (SELECT cluster, doc_id FROM (SELECT cluster, doc_id, " +
        "row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, " +
        "doc_id ASC) AS rn FROM m) WHERE rn = 1), " +
        "kept AS (SELECT * FROM d WHERE doc_id NOT IN " +
        "(SELECT doc_id FROM m WHERE doc_id NOT IN " +
        "(SELECT doc_id FROM canon))) " +
        "SELECT lang, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum " +
        "FROM kept GROUP BY lang ORDER BY lang")),

    Q("t5_vocabulary",
      // corpus vocabulary stats: term frequency + document frequency
      (s, dir) => TextAnalysis.vocabulary(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("term"),
      Some("SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM (" +
        s"SELECT doc_id, unnest(regexp_split_to_array($normSql, '\\s+')) AS term " +
        "FROM documents) GROUP BY term ORDER BY term")),

    Q("t12_heavy_hitters",
      // per-language frequent tokens via the mergeable Misra-Gries
      // aggregate: bounded k counters per group, merged map-side —
      // the vocabulary path that never shuffles the token stream.
      // The gate runs in the EXACT-AT-CAPACITY regime (distinct
      // tokens per lang ≪ k=256 ⟹ no decrement ever fires ⟹ exact
      // counts, deterministic under any merge order), so the plain
      // GROUP BY count SQL is a true oracle; the frequency-error
      // bound beyond capacity is pinned by HeavyHittersSpec.
      (s, dir) => {
        import graft.functions.HeavyHittersAgg.heavy_hitters
        t(s, dir, "documents")
          .select(col("lang"), explode(TextAnalysis.tokensWs(
            TextAnalysis.normalize(col("text")))).as("tok"))
          .groupBy(col("lang"))
          .agg(heavy_hitters(col("tok"), 256).as("hh"))
          .select(col("lang"), posexplode(col("hh")).as(Seq("pos", "e")))
          .select(col("lang"), (col("pos") + 1).as("rank"),
            col("e.item").as("tok"), col("e.cnt").as("cnt"))
          .orderBy("lang", "rank")
      },
      Some("WITH toks AS (SELECT lang, unnest(" + toksSql + ") AS tok " +
        "FROM documents), " +
        "c AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2), " +
        "r AS (SELECT lang, tok, cnt, row_number() OVER (PARTITION BY lang " +
        "ORDER BY cnt DESC, tok) AS rank FROM c) " +
        "SELECT lang, rank, tok, cnt FROM r ORDER BY lang, rank")),

    Q("t13_term_search",
      // conjunctive term search over the STORED inverted index — the
      // 100 TB generalization of the reference's ILIKE substring
      // search (p5, users.js:50-53): the index is persisted bucketed
      // by term (TextAnalysis.saveTermIndex), so the query reads at
      // most |terms| bucket directories (partition pruning, pinned by
      // PlanQualitySpec) and postings proportional to the result
      // instead of a corpus scan per query. Top-20 docs containing
      // ALL of {query, window, scan}, ranked by total tf
      // (deterministic id tie-break).
      (s, dir) => {
        val postings = storedTermPostings(s, dir,
          Seq("query", "window", "scan"))
        TextAnalysis.searchAllTerms(postings, "doc_id",
            Seq("query", "window", "scan"), k = 20)
          .select(col("doc_id"), col("n_terms"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
      },
      Some("WITH idx AS (SELECT term, doc_id, count(*) AS tf FROM (" +
        s"SELECT doc_id, unnest($toksSql) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "m AS (SELECT doc_id, count(*) AS n_terms, " +
        "CAST(sum(tf) AS BIGINT) AS score FROM idx " +
        "WHERE term IN ('query', 'window', 'scan') GROUP BY doc_id " +
        "HAVING count(*) = 3), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) " +
        "AS rk FROM m) " +
        "SELECT doc_id, n_terms, score FROM r WHERE rk <= 20 " +
        "ORDER BY score DESC, doc_id")),

    Q("t16_bm25_search",
      // BM25-ranked disjunctive search over the same inverted index as
      // t13 — the standard relevance ranking (Lucene-default
      // non-negative idf). Parity: per-term scores rounded to 8
      // decimals then summed in exact DECIMAL (ranking is
      // order-independent); k1+1 etc. combined IN-ENGINE on both sides
      // so the IEEE expression trees match; ln is the one
      // libm-dependent op, behind the 8-decimal round.
      (s, dir) => {
        val postings = storedTermPostings(s, dir,
          Seq("query", "window", "scan"))
        val dls = TextAnalysis.loadDocLengths(s, termIndexRoot(s, dir))
        TextAnalysis.searchBm25(postings, dls, "doc_id",
            Seq("query", "window", "scan"), k = 20)
          .select(col("doc_id"), col("n_terms"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
      },
      Some("WITH idx AS (SELECT term, doc_id, count(*) AS tf FROM (" +
        s"SELECT doc_id, unnest($toksSql) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        s"dls AS (SELECT doc_id, len($toksSql) AS dl FROM documents), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
        "avg(CAST(dl AS DOUBLE)) AS avgdl FROM dls), " +
        "dfs AS (SELECT term, count(*) AS df FROM idx " +
        "WHERE term IN ('query', 'window', 'scan') GROUP BY 1), " +
        "sc AS (SELECT i.doc_id, CAST(round(" +
        "ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * " +
        "(i.tf * (1.2 + 1.0) / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / st.avgdl)))" +
        ", 8) AS DECIMAL(28,8)) AS s " +
        "FROM idx i JOIN dfs USING (term) JOIN dls d USING (doc_id), st), " +
        "m AS (SELECT doc_id, count(*) AS n_terms, sum(s) AS ssum FROM sc " +
        "GROUP BY doc_id), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY ssum DESC, doc_id) AS rk " +
        "FROM m) " +
        "SELECT doc_id, n_terms, CAST(round(CAST(ssum AS DOUBLE), 6) AS DOUBLE) " +
        "AS score FROM r WHERE rk <= 20 ORDER BY score DESC, doc_id")),

    Q("t25_bm25_append",
      // INCREMENTAL TERM-INDEX APPEND: the bucketed BM25 index is
      // BUILT over two thirds of the corpus (the last corpus
      // tokenization it ever runs); the remaining third folds in via
      // appendTermIndex — O(batch) tokenize + write, published as a
      // chain link under an atomic _latest flip, the existing
      // postings untouched. The k-term search unions per-link
      // partition-pruned reads (≤ k bucket dirs per link) and BM25's
      // corpus stats recompute over the union, so the ranking is
      // EXACTLY the from-scratch index's — the oracle recomputes it
      // over the full corpus. In-gate, compactTermIndex then folds
      // the chain to one link + vacuums, and the search must be
      // bit-identical (hard-required).
      (s, dir) => {
        val root = scratch(s, dir, "t25", fresh = false)
        val d = t(s, dir, "documents").select("doc_id", "text")
        if (!TextAnalysis.termIndexExists(s, root)) {
          scratch(s, dir, "t25")
          TextAnalysis.saveTermIndex(
            d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
            "doc_id", "text", root, nBuckets = 64)
          TextAnalysis.appendTermIndex(
            d.filter(pmod(col("doc_id"), lit(3)) === 0),
            "doc_id", "text", root)
        }
        val terms = Seq("query", "window", "scan")
        def search = TextAnalysis.searchBm25(
            TextAnalysis.loadTermPostings(s, root, terms),
            TextAnalysis.loadDocLengths(s, root), "doc_id", terms, k = 20)
          .select(col("doc_id"), col("n_terms"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
        val chained = search.collect().toSeq
        if (TextAnalysis.compactTermIndex(s, root) > 0)
          TextAnalysis.vacuumTermIndex(s, root)
        val out = search
        require(out.collect().toSeq == chained,
          "compacting the chain must not change the ranking")
        out
      },
      Some("WITH idx AS (SELECT term, doc_id, count(*) AS tf FROM (" +
        s"SELECT doc_id, unnest($toksSql) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        s"dls AS (SELECT doc_id, len($toksSql) AS dl FROM documents), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
        "avg(CAST(dl AS DOUBLE)) AS avgdl FROM dls), " +
        "dfs AS (SELECT term, count(*) AS df FROM idx " +
        "WHERE term IN ('query', 'window', 'scan') GROUP BY 1), " +
        "sc AS (SELECT i.doc_id, CAST(round(" +
        "ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * " +
        "(i.tf * (1.2 + 1.0) / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / st.avgdl)))" +
        ", 8) AS DECIMAL(28,8)) AS s " +
        "FROM idx i JOIN dfs USING (term) JOIN dls d USING (doc_id), st), " +
        "m AS (SELECT doc_id, count(*) AS n_terms, sum(s) AS ssum FROM sc " +
        "GROUP BY doc_id), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY ssum DESC, doc_id) AS rk " +
        "FROM m) " +
        "SELECT doc_id, n_terms, CAST(round(CAST(ssum AS DOUBLE), 6) AS DOUBLE) " +
        "AS score FROM r WHERE rk <= 20 ORDER BY score DESC, doc_id")),

    Q("t22_hybrid_rrf",
      // HYBRID retrieval: the t16 BM25 ranking fused with a vector
      // ranking (brute-force cosine for query vec_id 0) by reciprocal
      // rank fusion (Hybrid.rrf, Cormack et al.) — score =
      // Σ 1/(60+rank), no cross-scorer calibration. Determinism: both
      // input rankings are the gates' own oracle-pinned orders; the
      // 2-list RRF sum is a single commutative double add, so the
      // fused ORDER is engine-independent; score surfaces rounded.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
        val postings = storedTermPostings(s, dir,
          Seq("query", "window", "scan"))
        val dls = TextAnalysis.loadDocLengths(s, termIndexRoot(s, dir))
        // rank the FULL matching set by the 6-decimal score (+ id
        // tiebreak) on BOTH sides, then cut — near-ties beyond the
        // round grid can never flip a rank or the top-50 boundary
        val text = TextAnalysis.searchBm25(postings, dls, "doc_id",
            Seq("query", "window", "scan"), k = Int.MaxValue)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 50)
          .select(col("doc_id"), col("rank"))
        val emb = Tables.load(s, dir, "embeddings")
        val vec = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank"))
        val fused = graft.pipeline.Hybrid.rrf(Seq(text, vec), "doc_id")
        val rw = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
        fused.withColumn("rk", row_number().over(rw))
          .filter(col("rk") <= 20)
          .select(col("doc_id"), col("n_lists"),
            round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
      },
      Some("WITH idx AS (SELECT term, doc_id, count(*) AS tf FROM (" +
        s"SELECT doc_id, unnest($toksSql) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        s"dls AS (SELECT doc_id, len($toksSql) AS dl FROM documents), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
        "avg(CAST(dl AS DOUBLE)) AS avgdl FROM dls), " +
        "dfs AS (SELECT term, count(*) AS df FROM idx " +
        "WHERE term IN ('query', 'window', 'scan') GROUP BY 1), " +
        "sc AS (SELECT i.doc_id, CAST(round(" +
        "ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) * " +
        "(i.tf * (1.2 + 1.0) / (i.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / st.avgdl)))" +
        ", 8) AS DECIMAL(28,8)) AS s " +
        "FROM idx i JOIN dfs USING (term) JOIN dls d USING (doc_id), st), " +
        "m AS (SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS bscore " +
        "FROM sc GROUP BY doc_id), " +
        "tr AS (SELECT doc_id, row_number() OVER (ORDER BY bscore DESC, doc_id) " +
        "AS rank FROM m QUALIFY rank <= 50), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id = 0), " +
        "vs AS (SELECT vec_id AS doc_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings) WHERE vec_id <> 0), " +
        "vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) " +
        "AS rank FROM vs QUALIFY rank <= 50), " +
        "u AS (SELECT doc_id, rank FROM tr UNION ALL " +
        "SELECT doc_id, rank FROM vr), " +
        "f AS (SELECT doc_id, sum(CAST(1.0 AS DOUBLE) / (60 + rank)) AS score, " +
        "count(*) AS n_lists FROM u GROUP BY 1), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) " +
        "AS rk FROM f) " +
        "SELECT doc_id, n_lists, round(score, 6) AS score FROM r " +
        "WHERE rk <= 20 ORDER BY score DESC, doc_id")),

    Q("t18_tfidf",
      // TF-IDF posting weights (TextAnalysis.tfIdf) over the same
      // index/tokenization as t13/t16; gate slice = repeated-use
      // postings (tf ≥ 3 — the synthetic corpus has a 31-term
      // vocabulary, so df-based rarity cuts are degenerate) under a
      // deterministic (doc, term) order — no float ranking anywhere;
      // ln sits behind a 6-decimal round.
      (s, dir) => TextAnalysis.tfIdf(t(s, dir, "documents"),
          "doc_id", "text")
        .filter(col("tf") >= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "term"),
      Some("WITH idx AS (SELECT term, doc_id, count(*) AS tf FROM (" +
        s"SELECT doc_id, unnest($toksSql) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "dfs AS (SELECT term, count(*) AS df FROM idx GROUP BY 1), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents) " +
        "SELECT i.doc_id, i.term, i.tf, d.df, " +
        "round(CAST(i.tf AS DOUBLE) * ln(st.n / d.df), 6) AS tfidf " +
        "FROM idx i JOIN dfs d USING (term) CROSS JOIN st " +
        "WHERE i.tf >= 3 ORDER BY doc_id, term")),

    Q("t19_stratified_sample",
      // exact-quota stratified selection (TextAnalysis.stratifiedSample):
      // at most 40 docs per source, ranked by salted md5 — the
      // deterministic per-source cap a corpus mix applies before
      // training. The oracle replays the identical ranking (same md5
      // input string, same DESC order, same id tie-break), so the
      // SELECTED SET matches row-for-row; the gate aggregates it
      // per-source (count + id checksum) for a compact stable shape.
      (s, dir) => TextAnalysis.stratifiedSample(
          t(s, dir, "documents"), "source", "doc_id", "q7", quota = 40)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source"),
      Some("WITH r AS (SELECT source, doc_id, row_number() OVER (" +
        "PARTITION BY source ORDER BY md5('q7|' || CAST(doc_id AS VARCHAR)) " +
        "DESC, doc_id DESC) AS rn FROM documents) " +
        "SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum " +
        "FROM r WHERE rn <= 40 GROUP BY 1 ORDER BY 1")),

    Q("t24_weighted_sample",
      // weighted sampling without replacement (Efraimidis–Spirakis
      // A-Res, TextAnalysis.weightedSample): 300 docs drawn with
      // probability ∝ length — the "sample ∝ quality score" selection
      // a uniform quota can't express. u comes from TWO mod-first
      // Knuth multiplicative hashes over distinct primes composed
      // positionally (~1e12 distinct values, every intermediate below
      // 2^53 so the double conversion is exact — pure BIGINT
      // arithmetic, identical in both engines), the score is u^(1/w),
      // and the top-k is one TakeOrderedAndProject — no global sort,
      // no RNG state. The oracle replays the identical score and
      // order, so the selected set matches row-for-row.
      (s, dir) => TextAnalysis.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 300)
        .orderBy("doc_id"),
      Some("WITH s AS (SELECT doc_id, n_chars, " +
        "pow(CAST(((doc_id % 1000003) * 2654435761 % 1000003) * 999983 " +
        "+ ((doc_id % 999983) * 2246822519 % 999983) AS DOUBLE) " +
        "/ (1000003.0 * 999983.0), 1.0 / n_chars) AS sc " +
        "FROM documents WHERE n_chars > 0) " +
        "SELECT doc_id, n_chars FROM " +
        "(SELECT doc_id, n_chars FROM s ORDER BY sc DESC, doc_id LIMIT 300) " +
        "ORDER BY doc_id")),

    Q("t21_cluster_sample",
      // cluster-balanced sampling: k-means topics (e11's deterministic
      // first-8 centroids) become sampling strata, each capped at 50
      // vectors by the t19 salted-md5 rank — the semantic twin of
      // per-source mixing (a training set balanced by CONTENT topic,
      // not just provenance). Assignment is the e11 codegen argmin;
      // the oracle replays both the argmin and the exact rank.
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(Similarity.vecD(col("embedding")).as("v")).collect()
          .map(_.getSeq[Double](0).toArray)
        val assigned = Cluster.assign(e, "embedding", cents)
          .select(col("vec_id"), col("cluster"))
        TextAnalysis.stratifiedSample(assigned, "cluster", "vec_id",
            "c9", quota = 50)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
          .orderBy("cluster")
      },
      Some("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id < 8), " +
        "a AS (SELECT e.vec_id, c.cid, " +
        "list_distance(CAST(e.embedding AS DOUBLE[]), c.ce) AS d " +
        "FROM embeddings e CROSS JOIN c), " +
        "asg AS (SELECT vec_id, cid AS cluster FROM (SELECT vec_id, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn " +
        "FROM a) WHERE rn = 1), " +
        "r AS (SELECT cluster, vec_id, row_number() OVER (" +
        "PARTITION BY cluster ORDER BY md5('c9|' || CAST(vec_id AS VARCHAR)) " +
        "DESC, vec_id DESC) AS rn FROM asg) " +
        "SELECT cluster, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum " +
        "FROM r WHERE rn <= 50 GROUP BY 1 ORDER BY 1")),

    Q("t20_topk_groups",
      // bounded-heap top-k per group (Kernels.topKPerKeyAgg /
      // TopKAgg.topk_rows): the 3 highest-priced lineitems per
      // returnflag under a TOTAL order (price, orderkey, linenumber)
      // — computed as a mergeable k-row aggregate that partial-combines
      // map-side (TopKAggSpec pins the ObjectHashAggregate plan with
      // no window sort), while the oracle ranks the classic way with
      // row_number. Agreement pins the heap/merge algebra against an
      // independent formulation.
      (s, dir) => graft.ops.Kernels.topKPerKeyAgg(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
          Seq("l_returnflag"),
          Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
          k = 3)
        .orderBy("l_returnflag", "l_extendedprice", "l_orderkey"),
      Some("SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber " +
        "FROM lineitem QUALIFY row_number() OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) " +
        "<= 3 ORDER BY l_returnflag, l_extendedprice, l_orderkey")),

    Q("t17_lm_score",
      // corpus-trained bigram-LM negative log likelihood per doc (the
      // perplexity quality filter): add-0.5 smoothed transition
      // probabilities trained on the corpus inside the same plan.
      // Parity: per-bigram -ln p quantized to 6 decimals, summed in
      // exact DECIMAL (order-independent), surfaced as a plain
      // DECIMAL→DOUBLE cast — ln is the one libm-dependent op, and a
      // final double-domain round would sit exactly on the quantized
      // sum's half-grid; see lmScore's doc for the measured analysis.
      (s, dir) => TextAnalysis.lmScore(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("WITH tk AS (SELECT doc_id, " + toksSql + " AS t FROM documents), " +
        "bg AS (SELECT doc_id, t[i+1] || ' ' || t[i+2] AS bg, t[i+1] AS w1 " +
        "FROM (SELECT doc_id, t, unnest(range(len(t)-1)) AS i FROM tk)), " +
        "cbg AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1), " +
        "cctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1), " +
        "v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM " +
        "(SELECT unnest(t) AS tok FROM tk)), " +
        "sc AS (SELECT doc_id, CAST(round(-ln((c12 + 0.5) / (c1 + 0.5 * v.v)), 6) " +
        "AS DECIMAL(28,6)) AS s " +
        "FROM bg JOIN cbg USING (bg) JOIN cctx USING (w1), v) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(s) AS DOUBLE) AS nll " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id")),

    Q("t6_sequence_pack",
      // GPT-style sequence packing: docs concatenated in id order,
      // chunked into 512-token packs via the distributed two-level
      // prefix scan (per-shard window + broadcast shard bases — never
      // a global single-partition window). n_tok uses the exact t1
      // token expression so both engines agree on the summand.
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.nTokensWs(col("text")).cast("long").as("n_tok"))
        TextAnalysis.packSequences(toks, "doc_id", "n_tok",
            budget = 512, shardSpan = 100)
          .select(col("doc_id"), col("n_tok"),
            col("offset").as("tok_offset"), col("pack_id"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok " +
        "FROM documents), " +
        "o AS (SELECT doc_id, n_tok, CAST(coalesce(sum(n_tok) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS tok_offset FROM t) " +
        "SELECT doc_id, n_tok, tok_offset, tok_offset // 512 AS pack_id " +
        "FROM o ORDER BY doc_id")),

    Q("t15_pack_slices",
      // straddle-SPLIT packing: one row per (doc, pack) slice — the
      // concat-then-chunk emission shape (pack_id, slice_start,
      // slice_len); slices tile each doc exactly. Same token expr and
      // prefix arithmetic as t6; the oracle replays the slice algebra
      // over DuckDB's own prefix sums.
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.nTokensWs(col("text")).cast("long").as("n_tok"))
        TextAnalysis.packSequencesSliced(toks, "doc_id", "n_tok",
            budget = 512, shardSpan = 100)
          .select(col("doc_id"), col("n_tok"),
            col("offset").as("tok_offset"), col("pack_id"),
            col("slice_start"), col("slice_len"))
          .orderBy("doc_id", "pack_id")
      },
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok " +
        "FROM documents), " +
        "o AS (SELECT doc_id, n_tok, CAST(coalesce(sum(n_tok) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS tok_offset FROM t), " +
        "s AS (SELECT doc_id, n_tok, tok_offset, " +
        "unnest(range(tok_offset // 512, " +
        "(tok_offset + greatest(n_tok, 1) - 1) // 512 + 1)) AS pack_id FROM o) " +
        "SELECT doc_id, n_tok, tok_offset, pack_id, " +
        "greatest(0, pack_id * 512 - tok_offset) AS slice_start, " +
        "least(tok_offset + n_tok, (pack_id + 1) * 512) - " +
        "greatest(tok_offset, pack_id * 512) AS slice_len " +
        "FROM s ORDER BY doc_id, pack_id")),

    Q("t23_chunk_overlap",
      // RAG-style overlapping chunking: 32-token windows advancing by
      // 24 (8-token overlap); starts stop at n−overlap so the tail
      // chunk covers the end and no chunk is contained in its
      // predecessor. One projection + one explode — no shuffle; the
      // oracle replays the window algebra over DuckDB list slicing.
      (s, dir) => graft.pipeline.TextAnalysis.chunkOverlap(
        t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_idx"),
      Some("WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents " +
        "WHERE length(trim(text)) > 0), " +
        "st AS (SELECT doc_id, tk, " +
        "unnest(generate_series(0, greatest(len(tk) - 9, 0), 24)) AS s " +
        "FROM toks) " +
        "SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx, " +
        "CAST(least(32, len(tk) - s) AS BIGINT) AS n_chunk_tokens, " +
        "array_to_string(tk[s + 1 : s + 32], ' ') AS chunk_text " +
        "FROM st ORDER BY doc_id, chunk_idx")),

    Q("t7_split",
      // deterministic train/val/test split: md5-prefix thresholding on
      // the salted doc id — reproducible across engines/runs/cluster
      // layouts and stable under corpus growth (a doc's split never
      // moves when neighbors are added), unlike randomSplit. Gate
      // output: per-(source, split) counts + id-range fingerprints.
      // Thresholds: 0.8 → 'cccc', 0.9 → 'e666' (floor(f·65536) as hex).
      (s, dir) => {
        TextAnalysis.hashSplit(t(s, dir, "documents"), "doc_id", "r4",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("source", "split")
      },
      Some("WITH s AS (SELECT source, doc_id, CASE " +
        "WHEN substr(md5('r4|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' " +
        "THEN 'train' " +
        "WHEN substr(md5('r4|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' " +
        "THEN 'val' ELSE 'test' END AS split FROM documents) " +
        "SELECT source, split, count(*) AS n, min(doc_id) AS min_id, " +
        "max(doc_id) AS max_id FROM s GROUP BY 1, 2 ORDER BY 1, 2")),

    Q("t8_redact",
      // PII scrubbing: plant synthetic emails/phones on even doc ids
      // (the corpus itself is PII-free), redact, and pin the exact
      // replacement via an md5 fingerprint — the regex subset (char
      // classes + bounded repetition) behaves identically in Java and
      // RE2, which is what the gate proves.
      (s, dir) => {
        val planted = concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com or 555-123-4567")))
            .otherwise(lit("")))
        t(s, dir, "documents").select(col("doc_id"),
            TextAnalysis.nEmails(planted).as("n_emails"),
            md5(TextAnalysis.redactPii(planted)).as("redacted_fp"))
          .orderBy("doc_id")
      },
      Some("WITH p AS (SELECT doc_id, text || CASE WHEN doc_id % 2 = 0 " +
        "THEN ' contact u' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or 555-123-4567' ELSE '' END AS pt FROM documents) " +
        "SELECT doc_id, len(regexp_extract_all(pt, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails, " +
        "md5(regexp_replace(regexp_replace(pt, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), " +
        "'\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '[PHONE]', 'g')) AS redacted_fp " +
        "FROM p ORDER BY doc_id")),

    Q("t9_budget_select",
      // data selection under a token budget: keep the longest docs
      // (n_chars desc, id tie-break) until 15k tokens are spent — the
      // PrefixScan two-level distributed cumsum over an arbitrary
      // total order (range-exchange + per-partition window + tiny
      // bases window), never a global single-partition window. The
      // result is exact and boundary-independent, so the global-window
      // SQL is a true oracle.
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          col("n_chars"),
          TextAnalysis.nTokensWs(col("text")).cast("long").as("n_tok"))
        graft.ops.PrefixScan.takeUnderBudget(d,
            Seq(col("n_chars").desc, col("doc_id").asc), col("n_tok"),
            budget = 15000L)
          .select(col("doc_id"), col("n_chars"), col("n_tok"),
            col("__prefix").as("tok_prefix"), col("__rank").as("rank"))
          .orderBy("rank")
      },
      Some("WITH tks AS (SELECT doc_id, n_chars, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) " +
        "AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, n_chars, n_tok, " +
        "CAST(coalesce(sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS tok_prefix, row_number() OVER (ORDER BY n_chars DESC, doc_id) " +
        "AS rank FROM tks) " +
        "SELECT doc_id, n_chars, n_tok, tok_prefix, rank FROM c " +
        "WHERE tok_prefix < 15000 ORDER BY rank")),

    Q("t10_repetition",
      // intra-doc repetition metrics (Gopher/RefinedWeb filter
      // family): token-bigram count and duplicate-bigram count as
      // pure per-row array expressions — no explode, no shuffle, the
      // corpus never leaves its scan partitions. Raw integer counts
      // (no ratio) so no cross-engine rounding surface exists.
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionCounts(col("text")).as("rc"))
        .select(col("doc_id"), col("rc.n_bigrams").as("n_bigrams"),
          col("rc.n_dup_bigrams").as("n_dup"))
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, " + toksSql + " AS w FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(w) >= 2 THEN " +
        "list_transform(generate_series(1, len(w) - 1), " +
        "i -> w[i] || ' ' || w[i + 1]) ELSE [] END AS bg FROM t) " +
        "SELECT doc_id, len(bg) AS n_bigrams, " +
        "len(bg) - len(list_distinct(bg)) AS n_dup FROM g ORDER BY doc_id")),

    Q("t11_mix",
      // weighted source mixing (training-data composition): src0 kept
      // whole, src1 at 1/2, src2 at 1/4, src3 at 1/10, the rest
      // dropped — each row's fate decided by the salted md5-prefix
      // draw (deterministic, stable under corpus growth, pure filter).
      // Thresholds floor(w·65536) as hex: 8000 / 4000 / 1999.
      (s, dir) => TextAnalysis.mixSources(t(s, dir, "documents"),
          "doc_id", "source", "mix4",
          Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("source"),
      Some("WITH m AS (SELECT source, doc_id FROM documents WHERE " +
        "source = 'src0' OR (source = 'src1' AND " +
        "substr(md5('mix4|' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000') OR " +
        "(source = 'src2' AND " +
        "substr(md5('mix4|' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000') OR " +
        "(source = 'src3' AND " +
        "substr(md5('mix4|' || CAST(doc_id AS VARCHAR)), 1, 4) < '1999')) " +
        "SELECT source, count(*) AS n, min(doc_id) AS min_id, " +
        "max(doc_id) AS max_id FROM m GROUP BY 1 ORDER BY 1")),

    Q("t14_corpus_e2e",
      // the capstone composition: quality floor → exact dedup →
      // deterministic split → per-split sequence packing, as ONE
      // declarative plan (each stage is individually gated — t1, d1,
      // t7, t6 — this pins that they COMPOSE). Oracle: the same four
      // stages as chained CTEs.
      (s, dir) => graft.pipeline.Corpus.buildTrainingSet(
          t(s, dir, "documents"), "doc_id", "text",
          minTokens = 10, salt = "c1",
          fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          packBudget = 512, shardSpan = 100)
        .withColumnRenamed("offset", "tok_offset")
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, text, " +
        s"CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents), " +
        "ok AS (SELECT * FROM tok WHERE n_tok >= 10), " +
        s"fp AS (SELECT doc_id, md5($normSql) AS f, n_tok FROM ok), " +
        "keep AS (SELECT doc_id, n_tok FROM fp WHERE doc_id IN " +
        "(SELECT min(doc_id) FROM fp GROUP BY f)), " +
        "sp AS (SELECT doc_id, n_tok, CASE " +
        "WHEN substr(md5('c1|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' " +
        "THEN 'train' " +
        "WHEN substr(md5('c1|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' " +
        "THEN 'val' ELSE 'test' END AS split FROM keep), " +
        "o AS (SELECT doc_id, split, n_tok, CAST(coalesce(sum(n_tok) OVER (" +
        "PARTITION BY split ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS tok_offset FROM sp) " +
        "SELECT doc_id, split, n_tok, tok_offset, tok_offset // 512 AS pack_id " +
        "FROM o ORDER BY doc_id")),

    Q("d6_cross_corpus_overlap",
      // train/test contamination: word-3-gram Jaccard ≥ 0.5 across an
      // even doc_id split — benchmark decontamination primitive
      (s, dir) => {
        val d = t(s, dir, "documents")
        Dedup.crossCorpusOverlap(
            d.filter(pmod(col("doc_id"), lit(2)) === 0),
            d.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text", n = 3, minJaccard = 0.5)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some("WITH toks AS (SELECT doc_id, " + toksSql + " AS w FROM documents), " +
        "pos AS (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 3 THEN " +
        "generate_series(1, len(w) - 2) ELSE [] END) AS i FROM toks), " +
        "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g FROM pos), " +
        "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix " +
        "FROM sh a JOIN sh b USING (g) " +
        "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(j, 6) AS jaccard FROM (" +
        "SELECT id_a, id_b, CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) AS j FROM inter " +
        "JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b) " +
        "WHERE j >= 0.5 ORDER BY id_a, id_b")),

    Q("d7_dup_clusters",
      // exact dup-cluster closure (connected components by min-id
      // label propagation) over a deterministic planted chain graph:
      // consecutive-id edges broken every 10th id give 10-doc chain
      // components — A~B~C with A≁C everywhere — so the kernel must
      // propagate labels across 9 hops, which greedy pairwise policies
      // cannot do. Oracle: DuckDB recursive-CTE reachability min.
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id")
        val pairs = d.filter(pmod(col("doc_id"), lit(10)) =!= 9)
          .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
          .join(d.select(col("doc_id").as("id2")), Seq("id2"), "left_semi")
        Dedup.dupClusters(pairs).orderBy("id")
      },
      Some("WITH RECURSIVE " +
        "e0 AS (SELECT a.doc_id AS src, a.doc_id + 1 AS dst FROM documents a " +
        "JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 10 <> 9), " +
        "edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0), " +
        "reach AS (SELECT src AS id, dst AS r FROM edges " +
        "UNION SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src) " +
        "SELECT id, least(id, min(r)) AS cluster FROM reach " +
        "GROUP BY id ORDER BY id")),

    Q("d3_minhash_lsh",
      // MinHash(32) + LSH(16 bands × 2) over documents ∪ id-shifted
      // copies, equality-verified on the shingle SET. Recall is 1 by
      // construction (identical set ⟹ identical signature ⟹ collides
      // in every band), so the whole signature/banding/bucket-join
      // pipeline is oracle-checkable: the SQL twin self-joins on the
      // set fingerprint. Sub-1.0 est-Jaccard recall: PipelineSpec.
      // copies planted for even ids only — thousands of pinned pairs
      // at a 1.5× (not 2×) corpus blow-up in the gate
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "text")
        val un = d.unionByName(d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
        Dedup.minHashVerifiedDuplicates(un, "doc_id", "text",
            n = 3, k = 32, bands = 16)
          .orderBy("id1", "id2")
      },
      // the oracle's set fingerprint (bit_xor of shingle hashes) only
      // has to group equal sets equally WITHIN DuckDB — fingerprints
      // never cross engines, only the resulting id pairs do
      Some("WITH docs AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 2 = 0), " +
        "toks AS (SELECT doc_id, " + toksSql + " AS w FROM docs), " +
        "pos AS (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 3 THEN " +
        "generate_series(1, len(w) - 2) ELSE [] END) AS i FROM toks), " +
        "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g FROM pos), " +
        "fp AS (SELECT doc_id, bit_xor(hash(g)) AS f FROM sh GROUP BY doc_id) " +
        "SELECT a.doc_id AS id1, b.doc_id AS id2 FROM fp a JOIN fp b " +
        "ON a.f = b.f AND a.doc_id < b.doc_id ORDER BY id1, id2")),

    Q("d12_incremental_dedup",
      // PERSISTED INCREMENTAL LSH CORPUS DEDUP (LshIndex): the index
      // is BUILT over two thirds of the corpus (the last corpus-sized
      // pass it ever runs), the remaining third folds in via append —
      // O(batch) signatures committed as fresh parts under a CAS'd
      // snapshot, the existing parts untouched — and a probe batch of
      // id-shifted copies (every fifth doc) is then deduped against
      // the WHOLE corpus: band-bucket join (probe side broadcast, the
      // persisted bucket log never shuffles) + exact shingle-SET
      // verify. Recall is 1 by MinHash determinism, so the oracle
      // recomputes the same equal-set pairs from scratch in SQL; the
      // probe must surface hits from BOTH the built and the appended
      // generation.
      (s, dir) => {
        val root = scratch(s, dir, "d12", fresh = false)
        val idx = root + "/idx"
        val d = t(s, dir, "documents").select("doc_id", "text")
        if (graft.catalog.SnapshotManifest.currentSnap(s, idx).isEmpty) {
          scratch(s, dir, "d12")
          LshIndex.build(d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
            idx, "doc_id", "text", n = 3, k = 32, bands = 16)
          LshIndex.append(d.filter(pmod(col("doc_id"), lit(3)) === 0), idx)
        }
        val probe = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .withColumn("doc_id", col("doc_id") + 20000000L)
        LshIndex.probe(s, idx, probe).orderBy("probe_id", "corpus_id")
      },
      // same cross-engine contract as d3: fingerprints stay inside
      // each engine, only the resulting id pairs cross
      Some("WITH all0 AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 20000000, text FROM documents " +
        "WHERE doc_id % 5 = 0), " +
        "toks AS (SELECT doc_id, " + toksSql + " AS w FROM all0), " +
        "pos AS (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 3 THEN " +
        "generate_series(1, len(w) - 2) ELSE [] END) AS i FROM toks), " +
        "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g FROM pos), " +
        "fp AS (SELECT doc_id, bit_xor(hash(g)) AS f FROM sh GROUP BY doc_id) " +
        "SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id " +
        "FROM fp p JOIN fp c ON p.f = c.f " +
        "WHERE p.doc_id >= 20000000 AND c.doc_id < 20000000 " +
        "ORDER BY probe_id, corpus_id")),

    Q("d13_index_maintenance",
      // LSH INDEX MAINTENANCE (remove + compactIndex): every-7th doc
      // is REMOVED from the d12-shaped corpus index — one O(ids)
      // tombstone part, the corpus-sized lb_/lf_ parts untouched —
      // then the index is COMPACTED: the per-append part pairs fold
      // to ONE pair and tombstoned ids are purged physically (an
      // index-sized pass over 3-long rows; the corpus text is never
      // re-read — the op that keeps nightly probes O(corpus-scan) as
      // appends accumulate). Hard-asserted: the folded snapshot holds
      // exactly one lb_/lf_ pair. The probe of id-shifted copies must
      // match every LIVE duplicate and NONE of the removed ghosts —
      // the oracle recomputes the equal-shingle-set pairs minus the
      // removed ids from scratch.
      (s, dir) => {
        val root = scratch(s, dir, "d13", fresh = false)
        val idx = root + "/idx"
        val d = t(s, dir, "documents").select("doc_id", "text")
        if (graft.catalog.SnapshotManifest.currentSnap(s, idx).isEmpty) {
          scratch(s, dir, "d13")
          LshIndex.build(d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
            idx, "doc_id", "text", n = 3, k = 32, bands = 16)
          LshIndex.append(d.filter(pmod(col("doc_id"), lit(3)) === 0), idx)
          LshIndex.remove(s, idx,
            d.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
          require(LshIndex.compactIndex(s, idx) == 3,
            "compact must fold 2 lb/lf pairs + 1 tombstone part")
          LshIndex.vacuum(s, idx)
        }
        val parts = graft.catalog.SnapshotManifest.currentParts(s, idx).get
        require(parts.size == 2,
          s"compacted index must hold exactly one lb_/lf_ pair: $parts")
        val probe = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .withColumn("doc_id", col("doc_id") + 20000000L)
        LshIndex.probe(s, idx, probe).orderBy("probe_id", "corpus_id")
      },
      Some("WITH all0 AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 20000000, text FROM documents " +
        "WHERE doc_id % 5 = 0), " +
        "toks AS (SELECT doc_id, " + toksSql + " AS w FROM all0), " +
        "pos AS (SELECT doc_id, w, unnest(CASE WHEN len(w) >= 3 THEN " +
        "generate_series(1, len(w) - 2) ELSE [] END) AS i FROM toks), " +
        "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g FROM pos), " +
        "fp AS (SELECT doc_id, bit_xor(hash(g)) AS f FROM sh GROUP BY doc_id) " +
        "SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id " +
        "FROM fp p JOIN fp c ON p.f = c.f " +
        "WHERE p.doc_id >= 20000000 AND c.doc_id < 20000000 " +
        "AND c.doc_id % 7 <> 0 " +
        "ORDER BY probe_id, corpus_id")),

    Q("d4_simhash_pairs",
      // SimHash64 + 8×8-bit banding + exact-hamming verify over
      // documents ∪ id-shifted copies, equality-verified on the token
      // MULTISET (SimHash is a pure function of the multiset, so an
      // identical multiset ⟹ hamming 0 ⟹ collides in every chunk —
      // recall 1 by construction, hence SQL-oracle-checkable).
      // Hamming 1-6 near-dup behavior: PipelineSpec.
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "text")
        val un = d.unionByName(d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
        Dedup.simHashVerifiedDuplicates(un, "doc_id", "text")
          .orderBy("id1", "id2")
      },
      Some("WITH docs AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 2 = 0), " +
        "fp AS (SELECT doc_id, md5(array_to_string(list_sort(" + toksSql + "), " +
        "chr(10))) AS f FROM docs WHERE trim(text) <> '') " +
        "SELECT a.doc_id AS id1, b.doc_id AS id2 FROM fp a JOIN fp b " +
        "ON a.f = b.f AND a.doc_id < b.doc_id ORDER BY id1, id2")),

    Q("e1_cosine_topk",
      // brute-force cosine top-10 for 5 query vectors — the exact ANN
      // baseline; cosine mirrored in SQL as dot/(|a||b|) sequential
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 10 ORDER BY query_id, rank")),

    Q("e14_progressive_topk",
      // Matryoshka progressive re-rank (Similarity.progressiveTopK):
      // the whole corpus is scored on the FIRST 8 of 64 dims (1/8th
      // the FLOPs), the top 50 candidates per query re-rank on full
      // dims — the filter-then-verify shape of e6's ADC with
      // dimension prefixes as the cheap stage. The oracle replays
      // BOTH stages (list slicing + two ranked passes), so the gate
      // pins the algorithm itself, not just its exact-regime result;
      // ties at both boundaries break on neighbor_id both sides.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.progressiveTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 10, dPrefix = 8, candidates = 50)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, " +
        "CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS neighbor_id, " +
        "CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
        "s1 AS (SELECT query_id, neighbor_id, " +
        "list_dot_product(qv[1:8], cv[1:8]) / " +
        "(sqrt(list_dot_product(qv[1:8], qv[1:8])) * " +
        "sqrt(list_dot_product(cv[1:8], cv[1:8]))) AS pcos " +
        "FROM q, c WHERE neighbor_id <> query_id), " +
        "cand AS (SELECT query_id, neighbor_id FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY query_id " +
        "ORDER BY pcos DESC, neighbor_id) AS pr FROM s1) WHERE pr <= 50), " +
        "s2 AS (SELECT d.query_id, d.neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM cand d JOIN q USING (query_id) JOIN c USING (neighbor_id)), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s2) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 10 ORDER BY query_id, rank")),

    Q("e2_embedding_near_dup",
      // hyperplane-LSH near-dup pairs over embeddings ∪ id-shifted
      // copies at cos ≥ 0.999, exact-cosine-verified. An identical
      // vector has an identical sign-bit signature, so every copy pair
      // collides in all 4 bands — recall 1 by construction, making the
      // banding + candidate-dedup + codegen-cosine-verify pipeline
      // oracle-checkable. The 0.999 threshold cleanly separates copies
      // (cos = 1.0) from the data's max natural pair cosine (0.51 at
      // sf0.01, 0.60 at sf0.1 — probed exhaustively), so the oracle's
      // identical-vector self-join is exact. Fuzzy-threshold recall
      // (cos ≥ 0.3): PipelineSpec. dims passed explicitly — no
      // driver-side probe during query construction.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        Similarity.lshNearDupPairs(un, "vec_id", "embedding",
            minCosine = 0.999, planes = 16, bands = 4, dims = Some(64))
          .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
          .orderBy("id1", "id2")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base), " +
        "cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cv AS c1, b.cv AS c2 " +
        "FROM v a JOIN v b ON a.cv = b.cv AND a.vec_id < b.vec_id) " +
        "SELECT id1, id2, round(cos, 6) AS cos FROM (" +
        "SELECT id1, id2, list_dot_product(c1, c2) / " +
        "(sqrt(list_dot_product(c1, c1)) * sqrt(list_dot_product(c2, c2))) AS cos " +
        "FROM cand) WHERE cos >= 0.999 ORDER BY id1, id2")),

    Q("e3_ivf_topk",
      // IVF(k-means) ANN with FULL probe — exact by construction
      // (every cell scanned), so the brute-force oracle applies while
      // the query exercises the quantize→invert→probe plumbing; the
      // scale path drops nProbe (IvfSpec covers partial probe)
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // the gate also pins index PERSISTENCE: build → save → load,
        // and query the RELOADED index (per-run nonce path, see st4)
        val path = scratch(s, dir, "ivf", fresh = false)
        graft.pipeline.IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
          .save(path)
        val idx = graft.pipeline.IvfIndex.load(s, path)
        idx.topK(emb.filter(col("vec_id") < 5), "embedding", k = 10, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 10 ORDER BY query_id, rank")),

    Q("e12_filtered_ann",
      // FILTERED vector search (the metadata-predicate shape every
      // vector deployment needs): candidates restricted to label = 3
      // ids by a semi-join on the inverted lists BEFORE distance
      // math — pre-filtering keeps all k results valid. Full probe ⇒
      // exact, so the brute-force-over-the-filtered-corpus oracle
      // applies; partial-probe recall under filters is IvfSpec's.
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val idx = graft.pipeline.IvfIndex.build(
          emb, "vec_id", "embedding", nCells = 8)
        idx.topK(emb.filter(col("vec_id") < 5), "embedding", k = 10,
            nProbe = 8,
            allowed = Some(emb.filter(col("label") === 3).select("vec_id")))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE label = 3) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 10 ORDER BY query_id, rank")),

    Q("e13_ivf_append",
      // incremental IVF APPEND — the ingest path that makes a
      // persisted index viable at scale: build on the even half,
      // append the odd half assigned against the EXISTING centroids
      // (one codegen pass, no retrain), query the grown index. Full
      // probe ⇒ exact over old + new vectors alike, so e1's
      // whole-corpus brute-force oracle applies verbatim; centroid
      // immutability and partial-probe behavior are IvfSpec's.
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val idx = graft.pipeline.IvfIndex.build(
            emb.filter(pmod(col("vec_id"), lit(2)) === 0),
            "vec_id", "embedding", nCells = 8)
          .append(emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding")
        idx.topK(emb.filter(col("vec_id") < 5), "embedding", k = 10,
            nProbe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 10 ORDER BY query_id, rank")),

    Q("e5_lsh_topk",
      // bucketed-LSH ANN top-1 over embeddings ∪ id-shifted copies —
      // the e2 recipe applied to Similarity.lshTopK: each query's true
      // nearest neighbor is its planted twin at cos 1.0 (identical
      // vector ⟹ identical signature ⟹ shares every band ⟹ guaranteed
      // candidate), and the data's max natural pair cosine is ≤ 0.60
      // (probed), so LSH top-1 ≡ brute-force top-1 by construction and
      // the exact e1-style SQL restricted to k=1 is a true oracle.
      // Fuzzy recall at k > 1 over non-planted corpora: PipelineSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        Similarity.lshTopK(un, un.filter(col("vec_id") < 5),
            "vec_id", "embedding", k = 1,
            planes = 16, bands = 4, dims = Some(64))
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM base WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r " +
        "WHERE rank = 1 ORDER BY query_id")),

    Q("e6_pq_topk",
      // product-quantization ANN top-1 over embeddings ∪ id-shifted
      // copies — the planted-twin recipe one more time, now pinning the
      // full PQ pipeline (subspace codebook training, corpus encode,
      // ADC candidate scan, exact re-rank). The twin shares the query's
      // vector, hence its CODE, hence attains the globally minimal ADC
      // distance (each subspace term is the min over codewords by
      // construction) — with candidate ties broken toward high ids it
      // is always a candidate, and the exact re-rank puts it first at
      // cos 1.0 vs ≤ 0.60 natural max. So PQ top-1 ≡ brute-force top-1
      // and the e1-style exact SQL at k=1 is a true oracle. Compression
      // / recall behavior on non-planted corpora: PqSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        // persistence round-trip, same recipe as e3: query the
        // reloaded index, not the freshly built one
        val path = scratch(s, dir, "pq", fresh = false)
        graft.pipeline.PqIndex.build(un, "vec_id", "embedding",
          m = 8, nWords = 64, maxTrainRows = 20000).save(path)
        val idx = graft.pipeline.PqIndex.load(s, path)
        idx.topK(un.filter(col("vec_id") < 5), "embedding", k = 1,
            nCandidates = 256)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM base WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r " +
        "WHERE rank = 1 ORDER BY query_id")),

    Q("e9_sq8_topk",
      // SQ8 scalar-quantization ANN top-1 (Sq.topK) over embeddings ∪
      // id-shifted copies — the planted-twin recipe on the TRAINING-
      // FREE codec: encode/decode are pure codegen expressions (no
      // codebook, no seed), so the whole path is reproducible by
      // construction. The twin shares the query's vector; per-
      // component dequantization error ≤ max|x|/254 keeps its
      // approximate cosine ≥ ~0.99 vs ≤ ~0.62 natural max, so it is
      // always a candidate, and the exact re-rank puts it first at
      // cos 1.0 → SQ8 top-1 ≡ brute-force top-1 and e1's exact SQL at
      // k=1 is a true oracle. Quantization error bounds: SqSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        Sq.topK(un, un.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 1, nCandidates = 256)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM base WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r " +
        "WHERE rank = 1 ORDER BY query_id")),

    Q("e10_ann_join",
      // cross-corpus ANN JOIN (IvfIndex.annJoin): top-3 reference
      // neighbors for EVERY left row — the labelling/enrichment shape
      // where the left side is too large to broadcast. Candidates come
      // from a shuffle hash join on the IVF cell id (both sides
      // partition by cell; nothing broadcasts by contract, no
      // all-pairs). FULL probe makes it exact by construction, so the
      // brute-force SQL is a true oracle while the query exercises the
      // join-shaped plumbing; partial-probe recall: AnnRecallSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val corpus = emb.filter(col("vec_id") % 5 === 0)
        val left = emb.filter(col("vec_id") % 5 =!= 0)
        val idx = graft.pipeline.IvfIndex.build(
          corpus, "vec_id", "embedding", nCells = 8)
        idx.annJoin(left, "vec_id", "embedding", k = 3, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, " +
        "CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id % 5 <> 0), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos FROM q, c), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 3 ORDER BY query_id, rank")),

    Q("e11_kmeans_assign",
      // k-means assignment (Cluster.assign): every embedding to its
      // nearest of 8 FIXED centroids (the first 8 corpus vectors —
      // deterministic, so the full assignment is oracle-checkable in
      // SQL; the LEARNED-centroid path shares this exact assignment
      // expression and is pinned by ClusterSpec's recovery/SSE
      // properties). One codegen projection against the centroid
      // literal — no join, no shuffle; the oracle recomputes argmin
      // from literal list_distance.
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        // k driver-held centroid vectors — the quantizer-train
        // contract (O(k·dims)), not a data collect
        val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(Similarity.vecD(col("embedding")).as("v")).collect()
          .map(_.getSeq[Double](0).toArray)
        Cluster.assign(e, "embedding", cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"))
          .orderBy("cluster")
      },
      Some("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE vec_id < 8), " +
        "a AS (SELECT e.vec_id, c.cid, " +
        "list_distance(CAST(e.embedding AS DOUBLE[]), c.ce) AS d " +
        "FROM embeddings e CROSS JOIN c), " +
        "r AS (SELECT vec_id, cid, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a) " +
        "SELECT cid AS cluster, count(*) AS n, min(vec_id) AS min_id " +
        "FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1")),

    Q("d10_semantic_dedup",
      // SemDeDup (Cluster.semanticDupPairs): embedding near-dup pairs
      // found by cosine WITHIN k-means clusters only — the clustering
      // bounds the pair space (Σ|cluster|² ≪ n²), which is what makes
      // semantic dedup possible at corpus scale. Planted copies have
      // identical vectors, hence identical argmin assignments, so
      // every copy pair is structurally reachable; the oracle is the
      // UNCLUSTERED exact identical-vector join (e2's), proving the
      // cluster restriction lost nothing at this threshold.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        val cents = emb.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(Similarity.vecD(col("embedding")).as("v")).collect()
          .map(_.getSeq[Double](0).toArray)
        Cluster.semanticDupPairs(un, "vec_id", "embedding", cents,
            minCosine = 0.999)
          .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
          .orderBy("id1", "id2")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base), " +
        "cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cv AS c1, b.cv AS c2 " +
        "FROM v a JOIN v b ON a.cv = b.cv AND a.vec_id < b.vec_id) " +
        "SELECT id1, id2, round(cos, 6) AS cos FROM (" +
        "SELECT id1, id2, list_dot_product(c1, c2) / " +
        "(sqrt(list_dot_product(c1, c1)) * sqrt(list_dot_product(c2, c2))) AS cos " +
        "FROM cand) WHERE cos >= 0.999 ORDER BY id1, id2")),

    Q("e7_ivfpq_topk",
      // IVF-PQ composed PROBED path (PqIndex.topKProbed — the
      // billion-vector architecture: coarse cells cut candidates
      // scanned, PQ codes cut work per candidate) at a genuinely
      // partial probe (2 of 8 cells). The planted-twin recipe survives
      // the composition because probing ranks cells by the SAME
      // codegen expression as assignment (IvfIndex.nearestCells): the
      // twin shares the query's vector, so its assigned cell is
      // bit-identically the query's top-1 probed cell (probed at any
      // nProbe ≥ 1), its shared code attains the globally minimal ADC
      // distance in the probed set (candidate ties break to high ids),
      // and the exact re-rank puts it first at cos 1.0 vs ≤ 0.60
      // natural max. So IVF-PQ top-1 ≡ brute-force top-1 by
      // construction and the e1-style exact SQL at k=1 is a true
      // oracle. Recall at partial probe on non-planted corpora: PqSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        // both halves of the composition are queried RELOADED — the
        // production shape: train once, persist, probe from any job
        val base = scratch(s, dir, "ivfpq", fresh = false)
        graft.pipeline.IvfIndex.build(un, "vec_id", "embedding", nCells = 8)
          .save(base + "/coarse")
        graft.pipeline.PqIndex.build(un, "vec_id", "embedding",
          m = 8, nWords = 64, maxTrainRows = 20000).save(base + "/pq")
        val coarse = graft.pipeline.IvfIndex.load(s, base + "/coarse")
        val pq = graft.pipeline.PqIndex.load(s, base + "/pq")
        pq.topKProbed(un.filter(col("vec_id") < 5), "embedding", coarse,
            nProbe = 2, k = 1, nCandidates = 256)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM base WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r " +
        "WHERE rank = 1 ORDER BY query_id")),

    Q("e8_residual_ivfpq",
      // RESIDUAL IVF-PQ (the FAISS-IVFPQ default: codes encode the
      // vector's residual to its coarse centroid) through the full
      // persistence round-trip — loadResidual verifies the coarse
      // fingerprint before plugging it back in. The planted-twin
      // recipe still holds: the twin shares the query's vector, hence
      // its cell, hence its RESIDUAL, hence its code — its ADC
      // distance is the minimum of the query's own-cell table, it
      // survives the candidate cut (ties break to high ids), and the
      // exact re-rank puts it first at cos 1.0. Recall-vs-flat at a
      // fixed code budget: PqSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val un = emb.unionByName(
          emb.withColumn("vec_id", col("vec_id") + 10000000L))
        val base = scratch(s, dir, "rivfpq", fresh = false)
        val coarse0 = graft.pipeline.IvfIndex.build(un, "vec_id", "embedding",
          nCells = 8)
        coarse0.save(base + "/coarse")
        graft.pipeline.PqIndex.buildResidual(un, "vec_id", "embedding",
          coarse0, m = 8, nWords = 64, maxTrainRows = 20000)
          .save(base + "/rpq")
        val coarse = graft.pipeline.IvfIndex.load(s, base + "/coarse")
        val rpq = graft.pipeline.PqIndex.loadResidual(s, base + "/rpq", coarse)
        rpq.topKProbed(un.filter(col("vec_id") < 5), "embedding", coarse,
            nProbe = 2, k = 1, nCandidates = 256)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id")
      },
      Some("WITH base AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM base WHERE vec_id < 5), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos " +
        "FROM q, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM base) " +
        "WHERE vec_id <> query_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r " +
        "WHERE rank = 1 ORDER BY query_id")),

    Q("mm1_media_features",
      // multimodal plumbing: text bytes as opaque payload → typed
      // Dataset → mapPartitions stub codec → features
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
          .as[MediaRecord]
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"), col("n_bytes"), col("width"),
            col("height"), col("checksum"))
          .orderBy("media_id")
      },
      Some("SELECT doc_id AS media_id, strlen(text) AS n_bytes, " +
        "1 + ascii(substr(text, 1, 1)) % 64 AS width, " +
        "1 + ascii(substr(text, 2, 1)) % 64 AS height, " +
        "CAST(list_sum(list_transform(string_split(text, ''), " +
        "x -> ascii(x))) % 997 AS BIGINT) AS checksum " +
        "FROM documents ORDER BY media_id")),

    Q("mm2_frame_sample",
      // frame-sampling stub: every 16th payload byte as a "frame"
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.fromText(
          t(s, dir, "documents").filter(col("doc_id") < 20), "doc_id", "text")
          .as[MediaRecord]
        Multimodal.sampleFrames(media, stride = 16)
          .orderBy("media_id", "frame_idx")
      },
      Some("SELECT doc_id AS media_id, CAST(off / 16 AS INT) AS frame_idx, " +
        "ascii(substr(text, CAST(off + 1 AS INT), 1)) AS frame_byte " +
        "FROM (SELECT doc_id, text, unnest(generate_series(0, strlen(text) - 1, 16)) AS off " +
        "FROM documents WHERE doc_id < 20) ORDER BY media_id, frame_idx")),

    Q("mm3_image_decode",
      // REAL image codec through real bytes: per doc, synthesize a
      // solid-gray PNG with arithmetically-determined (width, height,
      // gray) via the JDK encoder, push it through the binary-column
      // pipeline and javax.imageio decode, and emit the DECODED
      // dimensions and mean pixel. PNG is lossless, so the DuckDB
      // oracle predicts every output from the same arithmetic without
      // decoding anything — if the decoder mis-reported a single
      // dimension or sample, the hash would break.
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), octet_length(col("text")).as("len"))
          .as[(Long, Int)]
          .mapPartitions(_.map { case (id, len) =>
            val png = Multimodal.grayPng(
              width = 1 + (id % 64).toInt, height = 1 + len % 64,
              gray = ((id * 7) % 256).toInt)
            MediaRecord(id, "image/png", png, png.length.toLong)
          })
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("channels"), col("mean_byte"))
          .orderBy("media_id")
      },
      Some("SELECT doc_id AS media_id, CAST(1 + doc_id % 64 AS INT) AS width, " +
        "CAST(1 + strlen(text) % 64 AS INT) AS height, CAST(3 AS INT) AS channels, " +
        "CAST(doc_id * 7 % 256 AS DOUBLE) AS mean_byte " +
        "FROM documents WHERE doc_id < 200 ORDER BY media_id")),

    Q("mm4_audio_decode",
      // REAL audio codec through real bytes — mm3's recipe for sound:
      // per doc, synthesize a constant-amplitude 16-bit PCM WAV with
      // arithmetically-determined (rate, channels, frames, amplitude)
      // via the JDK encoder, push it through the binary-column
      // pipeline and javax.sound.sampled decode, and emit the DECODED
      // format + mean |sample|. PCM WAV is lossless, so the oracle
      // predicts every output from the same arithmetic — a
      // mis-reported rate, channel count, frame count, or sample
      // value breaks the hash.
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), octet_length(col("text")).as("len"))
          .as[(Long, Int)]
          .mapPartitions(_.map { case (id, len) =>
            val wav = Multimodal.pcmWav(
              nFrames = 100 + len % 100,
              sampleRate = 8000 + (id % 4).toInt * 4000,
              channels = 1 + (id % 2).toInt,
              amplitude = ((id * 13) % 1000).toInt)
            MediaRecord(id, "audio/wav", wav, wav.length.toLong)
          })
        Multimodal.extractAudioFeatures(media).toDF()
          .select(col("media_id"), col("sample_rate"), col("channels"),
            col("n_frames"), col("mean_abs"))
          .orderBy("media_id")
      },
      Some("SELECT doc_id AS media_id, " +
        "CAST(8000 + doc_id % 4 * 4000 AS INT) AS sample_rate, " +
        "CAST(1 + doc_id % 2 AS INT) AS channels, " +
        "CAST(100 + strlen(text) % 100 AS BIGINT) AS n_frames, " +
        "CAST(doc_id * 13 % 1000 AS DOUBLE) AS mean_abs " +
        "FROM documents WHERE doc_id < 200 ORDER BY media_id")),

    Q("mm5_video_frames",
      // REAL multi-frame decode — the video-shaped path through an
      // actual codec (animated GIF, the one multi-frame container the
      // JDK parses natively): per doc, synthesize a 2-5 frame GIF
      // whose frame grays follow arithmetic, decode it back through
      // the sequence reader, one row per frame with true dims + mean
      // pixel. GIF palettes are exact for solid frames, so the oracle
      // predicts every row; a skipped frame, wrong index, or palette
      // mix-up breaks the hash. MP4-class codecs stay external; the
      // row shape is theirs to fill.
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), octet_length(col("text")).as("len"))
          .as[(Long, Int)]
          .mapPartitions(_.map { case (id, len) =>
            val grays = (0 until (2 + (id % 4).toInt))
              .map(i => ((id * 11 + i * 37) % 256).toInt)
            val gif = Multimodal.animatedGif(
              width = 4 + (id % 8).toInt, height = 3 + len % 8, grays)
            MediaRecord(id, "image/gif", gif, gif.length.toLong)
          })
        Multimodal.extractFrames(media)
          .orderBy("media_id", "frame_idx")
      },
      Some("WITH f AS (SELECT doc_id, strlen(text) AS len, " +
        "unnest(generate_series(0, CAST(1 + doc_id % 4 AS INT))) AS fi " +
        "FROM documents WHERE doc_id < 100) " +
        "SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx, " +
        "CAST(4 + doc_id % 8 AS INT) AS width, " +
        "CAST(3 + len % 8 AS INT) AS height, " +
        "CAST((doc_id * 11 + fi * 37) % 256 AS DOUBLE) AS mean_byte " +
        "FROM f ORDER BY media_id, frame_idx")),

    Q("mm6_phash_near_dup",
      // IMAGE NEAR-DUP via perceptual hash — the multimodal twin of
      // d4's text SimHash, through the REAL codec end to end: per
      // doc, synthesize a deterministic block-texture PNG whose
      // pattern is a pure function of GROUP = doc_id/2, rendered at
      // 64×48 for even ids and 96×72 for odd ids (the same image,
      // resized — the dominant duplication mode of a crawled image
      // corpus, invisible to byte fingerprints). pHash64 (decode →
      // 32×32 gray → DCT → median bits) must land same-group
      // variants within hamming 6 and keep cross-group pairs out
      // (measured margins: intra ≤ 4, cross ≥ 10), and the banded
      // hamming join surfaces exactly the (2g, 2g+1) pairs — recall
      // 1 by pigeonhole at 8 bands. The oracle enumerates the
      // planted pairs arithmetically; one flipped hash bit past the
      // threshold or one missed band collision breaks the compare.
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val png = Multimodal.blockPngAt(id / 2, alt = id % 2 == 1)
            MediaRecord(id, "image/png", png, png.length.toLong)
          })
        Multimodal.pHashNearDup(media, bands = 8, maxHamming = 6)
          .select(col("id1"), col("id2"))
          .orderBy("id1", "id2")
      },
      Some("SELECT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 " +
        "WHERE a.doc_id % 2 = 0 AND a.doc_id < 300 AND b.doc_id < 300 " +
        "ORDER BY id1, id2")),

    Q("mm7_audio_near_dup",
      // AUDIO NEAR-DUP via energy-envelope fingerprint — mm6's twin
      // for the audio modality, through the REAL codec end to end:
      // per doc, synthesize a deterministic 65-step amplitude WAV
      // whose step pattern is a pure function of GROUP = doc_id/2,
      // rendered at 8 kHz for even ids and 16 kHz for odd ids (the
      // same clip, RESAMPLED — the dominant duplication mode of a
      // crawled audio corpus, invisible to byte fingerprints).
      // audioFingerprint64's time-normalized difference-sign bits are
      // EXACTLY equal across the two rates (integer arithmetic, no
      // measured margin needed), cross-group fingerprints differ in
      // ~32 bits, and the banded hamming join surfaces exactly the
      // (2g, 2g+1) pairs — recall 1 by pigeonhole at 8 bands. The
      // oracle enumerates the planted pairs arithmetically.
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val wav = Multimodal.stepWavAt(id / 2, highRate = id % 2 == 1)
            MediaRecord(id, "audio/wav", wav, wav.length.toLong)
          })
        Multimodal.audioNearDup(media, bands = 8, maxHamming = 6)
          .select(col("id1"), col("id2"))
          .orderBy("id1", "id2")
      },
      Some("SELECT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 " +
        "WHERE a.doc_id % 2 = 0 AND a.doc_id < 300 AND b.doc_id < 300 " +
        "ORDER BY id1, id2")),

    Q("mm8_media_quality_filter",
      // MEDIA QUALITY FILTER through the REAL codecs — the LAION-
      // style decode→threshold gate a multimodal pipeline runs before
      // anything expensive: per doc, synthesize an image (even ids:
      // solid PNG with arithmetically-determined width/height/gray)
      // or an audio clip (odd ids: constant-amplitude WAV with
      // determined frame count/amplitude) covering every rule —
      // too-small and extreme-aspect dimensions, near-black and
      // blown-out exposures, sub-250 ms clips, silent clips — plus
      // two undecodable payloads. Solid-PNG means and constant-PCM
      // means are integer-exact, so the DuckDB oracle predicts every
      // verdict (keep/drop + first-failed-rule reason) from doc_id
      // arithmetic alone. Verdicts, not drops: the reject lane is the
      // auditable artifact.
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            if (id % 2 == 0) {
              val w = 32 + ((id / 2) % 5).toInt * 16 // 32..96
              val h = 16 + ((id / 2) % 3).toInt * 48 // 16/64/112
              val gray = ((id * 37) % 256).toInt
              val png = Multimodal.grayPng(w, h, gray)
              MediaRecord(id, "image/png", png, png.length.toLong)
            } else {
              val frames = 1000 + ((id / 2) % 7).toInt * 500 // 1000..4000
              val amp = ((id * 13) % 300).toInt
              val wav = Multimodal.pcmWav(frames, 8000, 1, amp)
              MediaRecord(id, "audio/wav", wav, wav.length.toLong)
            }
          }).union(Seq(
            MediaRecord(9000000L, "image/png", Array[Byte](1, 2), 2L),
            MediaRecord(9000001L, "audio/wav", Array[Byte](3), 1L)).toDS())
        Multimodal.qualityVerdicts(media, minDim = 24).toDF()
          .orderBy("media_id")
      },
      Some("SELECT doc_id AS media_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality, " +
        "reason = 'ok' AS ok, reason FROM (" +
        "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN (" +
        "CASE WHEN least(32 + (doc_id // 2) % 5 * 16, " +
        "16 + (doc_id // 2) % 3 * 48) < 24 THEN 'too_small' " +
        "WHEN greatest(32 + (doc_id // 2) % 5 * 16, " +
        "16 + (doc_id // 2) % 3 * 48) > 2.0 * least(" +
        "32 + (doc_id // 2) % 5 * 16, 16 + (doc_id // 2) % 3 * 48) " +
        "THEN 'extreme_aspect' " +
        "WHEN doc_id * 37 % 256 < 16 OR doc_id * 37 % 256 > 240 " +
        "THEN 'dark_or_blown' ELSE 'ok' END) ELSE (" +
        "CASE WHEN (1000 + (doc_id // 2) % 7 * 500) / 8000.0 < 0.25 " +
        "THEN 'too_short' " +
        "WHEN doc_id * 13 % 300 < 50 THEN 'silent' ELSE 'ok' END) END " +
        "AS reason FROM documents WHERE doc_id < 400 " +
        "UNION ALL SELECT 9000000, 'undecodable' " +
        "UNION ALL SELECT 9000001, 'undecodable') " +
        "ORDER BY media_id")),

    Q("e15_filtered_ann_join",
      // FILTERED cross-corpus ANN JOIN (e10 x e12): top-3 label-3
      // reference neighbors for EVERY left row -- the "nearest
      // reference doc WITH this license/language/split" enrichment
      // shape. The filter is geometry-arbitrary, so the probe uses
      // live-cell list pruning (IvfIndex.probeCellsAmong) and the
      // candidate lists are semi-joined BEFORE distance math; the
      // probe stays a pure expression, preserving annJoin's big-left
      // contract (nothing broadcasts, shuffle on cell only). FULL
      // probe => exact over the filtered corpus, so brute-force SQL
      // is a true oracle; correlated-filter partial-probe recall:
      // AnnRecallSpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = emb.filter(col("vec_id") % 5 === 0)
          .select("vec_id", "embedding")
        val left = emb.filter(col("vec_id") % 5 =!= 0)
          .select("vec_id", "embedding")
        val allowed = emb.filter(col("vec_id") % 5 === 0 &&
          col("label") === 3).select("vec_id")
        val idx = graft.pipeline.IvfIndex.build(
          corpus, "vec_id", "embedding", nCells = 8)
        idx.annJoin(left, "vec_id", "embedding", k = 3, nProbe = 8,
            allowed = Some(allowed))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("query_id", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS query_id, " +
        "CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id % 5 <> 0), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id % 5 = 0 AND label = 3), " +
        "s AS (SELECT query_id, vec_id AS neighbor_id, " +
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * " +
        "sqrt(list_dot_product(cv, cv))) AS cos FROM q, c), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM s) " +
        "SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM r " +
        "WHERE rank <= 3 ORDER BY query_id, rank")),

    Q("t28_bpe_vocab",
      // the VOCABULARY the fixture merge table induces over this
      // corpus -- the (token, id) table a training pipeline feeds its
      // embedding layer: base symbols = distinct code points of the
      // normalized words (ids in code-point order), merge outputs
      // follow at base_count + rank. Both sides derive it
      // independently from (corpus, fixture), so the gate pins the id
      // assignment rule itself, not a stored artifact. The base
      // global sort is alphabet-bounded by construction.
      (s, dir) => Bpe.vocab(t(s, dir, "documents"), "text",
          Bpe.fixtureMerges)
        .orderBy("id"),
      Some({
        val mergeVals = Bpe.fixtureMerges.zipWithIndex
          .map { case ((a, b), r) =>
            s"('${(a + b).replace("'", "''")}', $r)" }.mkString(", ")
        "WITH chars AS (SELECT DISTINCT c AS token FROM (" +
          s"SELECT unnest(regexp_split_to_array($normSql, '')) AS c " +
          "FROM documents) WHERE c <> ' ' AND c <> ''), " +
          "base AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 " +
          "AS BIGINT) AS id FROM chars), " +
          s"m(token, r) AS (VALUES $mergeVals) " +
          "SELECT token, id FROM base UNION ALL " +
          "SELECT token, CAST((SELECT count(*) FROM base) + r AS BIGINT) " +
          "FROM m ORDER BY id"
      })),

    Q("t26_bpe_tokenize",
      // REAL subword tokenization (BPE, Sennrich 2016): t1-t6 count
      // whitespace tokens, but pipeline packing/budgeting is defined
      // in subword tokens. The merge table is the PINNED fixture
      // (trained by Bpe.train on the sf0.001 corpus; BpeSpec asserts
      // trainer == fixture, so it cannot drift) applied distributed:
      // broadcast ranks + one mapPartitions pass, zero shuffles. The
      // oracle replays the SAME merge table in pure SQL over the
      // boundary-marked character sequence -- each merge is one
      // string replace whose left-to-right non-overlapping semantics
      // equal Bpe.encodeWord's sweep exactly, so the gate is a full
      // hash compare, not a rows-only check.
      (s, dir) => Bpe.tokenCounts(t(s, dir, "documents"), "doc_id",
          "text", Bpe.fixtureMerges)
        .orderBy("doc_id"),
      Some("SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(length($bpeNormSql) AS BIGINT) AS n_chars_norm, " +
        Bpe.oracleTokenCountSql(bpeNormSql, Bpe.fixtureMerges) +
        " AS n_bpe FROM documents ORDER BY doc_id")),

    Q("t27_bpe_pack",
      // t6's sequence packing RE-GATED on BPE token counts -- the
      // budget a real training pipeline packs against is subword
      // tokens, not whitespace words. Same two-level distributed
      // prefix scan (per-shard window + broadcast shard bases); only
      // the summand changes. Budget 256 at ~door of the corpus's
      // per-doc subword counts so packs straddle docs.
      (s, dir) => {
        val toks = Bpe.tokenCounts(t(s, dir, "documents"), "doc_id",
            "text", Bpe.fixtureMerges)
          .select(col("doc_id"), col("n_bpe").as("n_tok"))
        TextAnalysis.packSequences(toks, "doc_id", "n_tok",
            budget = 256, shardSpan = 100)
          .select(col("doc_id"), col("n_tok"),
            col("offset").as("tok_offset"), col("pack_id"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        Bpe.oracleTokenCountSql(bpeNormSql, Bpe.fixtureMerges) +
        " AS n_tok FROM documents), " +
        "o AS (SELECT doc_id, n_tok, CAST(coalesce(sum(n_tok) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS tok_offset FROM t) " +
        "SELECT doc_id, n_tok, tok_offset, tok_offset // 256 AS pack_id " +
        "FROM o ORDER BY doc_id")),

    Q("t29_bpe_bytes",
      // BYTE-LEVEL BPE (GPT-2-style): t26's base alphabet is the
      // corpus's code points, so unseen characters are OOV at encode
      // time; here the base alphabet is the 256 UTF-8 byte values --
      // EVERY string encodes, zero OOV by construction (BpeSpec
      // round-trips non-BMP/mixed-script text to ids and back). The
      // pinned byte merge table is trainBytes on the sf0.001 corpus
      // (asserted equal by BpeSpec); application is the same
      // broadcast-ranks mapPartitions pass, zero shuffles. The oracle
      // replays the merges over the hex-pair byte sequence -- markers
      // wrap printable hex, so unlike t26 no corpus precondition is
      // needed at all.
      (s, dir) => Bpe.tokenCountsBytes(t(s, dir, "documents"), "doc_id",
          "text", Bpe.fixtureByteMerges)
        .orderBy("doc_id"),
      Some("SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        s"CAST(octet_length(encode($bpeNormSql)) AS BIGINT) AS n_bytes_norm, " +
        Bpe.oracleByteTokenCountSql(bpeNormSql, Bpe.fixtureByteMerges) +
        " AS n_bpe FROM documents ORDER BY doc_id")),

    Q("t30_phrase_search",
      // EXACT-PHRASE search over the POSITIONAL term index -- the
      // capability t13/t16's position-free postings cannot express
      // (the reference's ILIKE page, users.js:51, is the degenerate
      // 1-term case). The index is persisted bucketed by term with
      // per-posting position arrays (saveTermIndex withPositions);
      // a phrase query reads <= |distinct terms| bucket directories
      // (partition pruning, PlanQualitySpec pin) and intersects
      // position-shifted posting lists relationally -- input ∝ the
      // phrase terms' occurrence lists, never the corpus. Two
      // phrases pin both code paths: distinct-term adjacency
      // ("merge sort") and a REPEATED word ("window window" --
      // ordinals make the intersection require two distinct shifted
      // hits, not one posting counted twice); overlapping matches
      // each count. Top-20 docs per phrase by occurrence count.
      (s, dir) => {
        val root = posIndexRoot(s, dir)
        if (!TextAnalysis.termIndexExists(s, root))
          TextAnalysis.saveTermIndex(t(s, dir, "documents"), "doc_id",
            "text", root, nBuckets = 64, withPositions = true)
        def one(phrase: Seq[String]) =
          TextAnalysis.searchPhrase(
              TextAnalysis.loadTermPostings(s, root, phrase.distinct),
              "doc_id", phrase, k = 20)
            .withColumn("phrase", lit(phrase.mkString(" ")))
        one(Seq("merge", "sort")).unionByName(one(Seq("window", "window")))
          .select(col("phrase"), col("doc_id"), col("n_matches"))
          .orderBy(col("phrase"), col("n_matches").desc, col("doc_id"))
      },
      Some("WITH toks AS (SELECT doc_id, " +
        s"regexp_split_to_array($normSql, '\\s+') AS t FROM documents), " +
        "idx AS (SELECT doc_id, t, " +
        "unnest(generate_series(1, len(t) - 1)) AS s FROM toks), " +
        "h1 AS (SELECT doc_id, count(*) AS n_matches FROM idx " +
        "WHERE t[s] = 'merge' AND t[s+1] = 'sort' GROUP BY 1), " +
        "r1 AS (SELECT doc_id, n_matches, row_number() OVER " +
        "(ORDER BY n_matches DESC, doc_id) AS rk FROM h1), " +
        "h2 AS (SELECT doc_id, count(*) AS n_matches FROM idx " +
        "WHERE t[s] = 'window' AND t[s+1] = 'window' GROUP BY 1), " +
        "r2 AS (SELECT doc_id, n_matches, row_number() OVER " +
        "(ORDER BY n_matches DESC, doc_id) AS rk FROM h2) " +
        "SELECT phrase, doc_id, n_matches FROM (" +
        "SELECT 'merge sort' AS phrase, doc_id, n_matches FROM r1 " +
        "WHERE rk <= 20 UNION ALL " +
        "SELECT 'window window' AS phrase, doc_id, n_matches FROM r2 " +
        "WHERE rk <= 20) ORDER BY phrase, n_matches DESC, doc_id")),
  )
}
