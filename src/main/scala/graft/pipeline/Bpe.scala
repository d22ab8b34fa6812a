package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Fixpoint

/** Byte-pair-encoding subword tokenization (Sennrich/Haddow/Birch,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL
  * 2016 — the tokenizer family behind GPT-2/LLaMA vocabularies), built
  * Spark-first:
  *
  *   - TRAINING runs on the WORD-FREQUENCY table, not the corpus: the
  *     distinct whitespace pretokens with counts (the standard
  *     Sennrich formulation). Per merge round that is one explode +
  *     one aggregation over the vocab frame — O(vocab), which for a
  *     100 TB web corpus is millions of rows against billions, and
  *     the corpus itself is read exactly once.
  *   - APPLICATION is one `mapPartitions` pass with the merge ranks
  *     broadcast — no shuffle at all; the merge table (a few 10k
  *     entries in real vocabularies) is the only state.
  *
  * Merges apply in RANK ORDER, each as one left-to-right
  * non-overlapping sweep. For a table produced by [[train]] this is
  * equivalent to the per-word lowest-rank-first iteration (a rank-r
  * pair's constituents exist before any rank>r merge runs, and a
  * merge output `a+b` is strictly longer than `a`, so a later sweep
  * never reintroduces an earlier pair) — and it is EXACTLY the
  * semantics of a chain of string `replace` calls over the
  * boundary-marked sequence form, which is what lets a plain-SQL
  * oracle replay tokenization (gate t26).
  */
object Bpe {

  /** The pinned merge table for the t26/t27 gates: [[train]] over the
    * sf0.001 documents corpus, 24 merges, minCount 2 — regenerated and
    * asserted equal by BpeSpec, so the fixture cannot drift from the
    * trainer. Pinning a trained table (rather than re-training per
    * gate run) keeps the gate SF-independent: the Spark side applies
    * THIS table and the DuckDB oracle replays THIS table, at any
    * scale factor. */
  val fixtureMerges: Vector[(String, String)] = Vector(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"))

  /** The pinned BYTE-LEVEL merge table for gate t29: [[trainBytes]]
    * over the sf0.001 documents corpus, 24 merges, minCount 2 —
    * regenerated and asserted equal by BpeSpec. On this ASCII corpus
    * it is exactly [[fixtureMerges]] in hex ("65","72" = "e","r"),
    * which is itself a trainer cross-check; on non-ASCII corpora the
    * two diverge (a code point is 1..4 byte symbols). */
  val fixtureByteMerges: Vector[(String, String)] = Vector(
    ("65", "72"), ("6F", "72"), ("69", "6E"), ("6F", "77"),
    ("73", "74"), ("6C", "75"), ("61", "72"), ("70", "6172"),
    ("6D", "6572"), ("61", "74"), ("61", "6E"), ("63", "616E"),
    ("73", "63616E"), ("63", "6F"), ("636F", "6C75"),
    ("636F6C75", "6D"), ("636F6C756D", "6E"), ("64", "6F77"),
    ("696E", "646F77"), ("77", "696E646F77"), ("64", "6572"),
    ("6F72", "646572"), ("6F72", "74"), ("73", "6F7274"))

  /** One training round's pair statistics need adjacent pairs; this
    * explodes (a, b) token pairs weighted by word frequency. */
  private def pairStats(vocab: DataFrame): DataFrame = {
    val idx = when(size(col("toks")) >= 2,
      sequence(lit(0), size(col("toks")) - 2))
      .otherwise(array().cast("array<int>"))
    vocab.select(col("freq"), explode(transform(idx, i =>
        struct(element_at(col("toks"), i + 1).as("a"),
          element_at(col("toks"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Merge (a, b) → a+b inside a token array, left-to-right
    * non-overlapping, as a codegen-friendly aggregate fold: the
    * accumulator's last element merges with the current token when
    * they spell the pair. (A merged token `a+b` can never equal `a`,
    * so a fold result never re-matches within the same pass —
    * identical semantics to the scan in [[encodeWord]].) */
  private def applyMerge(toks: Column, a: String, b: String): Column =
    aggregate(toks, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train a BPE merge table on a corpus: `numMerges` rounds of
    * most-frequent-adjacent-pair (ties broken lexicographically on
    * (a, b) — full determinism, any partitioning), stopping early
    * when the best pair's weighted count falls below `minCount`.
    * Returns merges in rank order. Each round collects exactly ONE
    * row (the winning pair) — the vocab itself never leaves the
    * executors; each round's vocab is materialized through
    * [[graft.ops.Fixpoint]], which truncates the lineage (the fold
    * expression would otherwise nest once per round). */
  def train(docs: DataFrame, text: String, numMerges: Int,
            minCount: Long = 2): Vector[(String, String)] =
    trainLoop(wordFreq(docs, text)
      .select(filter(split(col("w"), ""), x => x =!= "").as("toks"),
        col("freq")),
      numMerges, minCount)

  /** BYTE-LEVEL training (GPT-2-style, Radford et al. 2019): the base
    * alphabet is the 256 byte values of the words' UTF-8 encodings —
    * every string is encodable with ZERO out-of-vocabulary symbols,
    * where code-point-level [[train]] leaves any character outside the
    * training corpus unmapped. Byte tokens are represented as
    * UPPERCASE HEX PAIRS ("61" = byte 0x61); a merge output is the
    * concatenated hex of its byte run — printable, order-isomorphic to
    * the byte string, and safely interpolatable into oracle SQL. Same
    * O(vocab)-per-round word-frequency loop as [[train]]. */
  def trainBytes(docs: DataFrame, text: String, numMerges: Int,
                 minCount: Long = 2): Vector[(String, String)] =
    trainLoop(wordFreq(docs, text)
      // hex(encode(w)) is the word's UTF-8 bytes as hex; the \G
      // lookbehind splits it into 2-char byte tokens
      .select(filter(split(hex(encode(col("w"), "UTF-8")), "(?<=\\G..)"),
        x => x =!= "").as("toks"), col("freq")),
      numMerges, minCount)

  /** Distinct whitespace pretokens with corpus frequencies — the
    * Sennrich training table both trainers start from. */
  private def wordFreq(docs: DataFrame, text: String): DataFrame = docs
    .select(explode(TextAnalysis.tokensWs(
      TextAnalysis.normalize(coalesce(col(text), lit(""))))).as("w"))
    .groupBy("w").agg(count(lit(1)).as("freq"))

  private def trainLoop(vocab0: DataFrame, numMerges: Int,
                        minCount: Long): Vector[(String, String)] = {
    var vocab = Fixpoint.materialize(vocab0)
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val top = pairStats(vocab)
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .collect()
      top.headOption.filter(_.getLong(2) >= minCount) match {
        case Some(r) =>
          val (a, b) = (r.getString(0), r.getString(1))
          merges += ((a, b))
          val prev = vocab
          vocab = Fixpoint.materialize(
            vocab.select(applyMerge(col("toks"), a, b).as("toks"), col("freq")))
          Fixpoint.free(prev)
        case None => done = true
      }
      round += 1
    }
    Fixpoint.free(vocab)
    merges.result()
  }

  /** Apply a merge table to one word (rank-order sweeps). Base tokens
    * are CODE POINTS, not UTF-16 chars — Java's empty-regex split
    * (the trainer's `split(w, "")`) and DuckDB's
    * `regexp_split_to_array(s, '')` both split at code-point
    * boundaries, so a per-char split would break surrogate pairs and
    * diverge on non-BMP text. */
  def encodeWord(word: String,
                 merges: Seq[(String, String)]): Array[String] =
    sweep(word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))), merges)

  /** Byte-level [[encodeWord]]: base tokens are the word's UTF-8
    * bytes as uppercase hex pairs — the executor-side mirror of
    * [[trainBytes]]'s `hex(encode(w))` pretokenization (Spark's `hex`
    * emits uppercase). Total on every input: no OOV exists at the
    * byte level. */
  def encodeWordBytes(word: String,
                      merges: Seq[(String, String)]): Array[String] =
    sweep(word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X"), merges)

  /** Rank-order merge sweeps over an initial token array (shared by
    * the code-point and byte encoders). */
  private def sweep(toks0: Array[String],
                    merges: Seq[(String, String)]): Array[String] = {
    var toks = toks0
    merges.foreach { case (a, b) =>
      if (toks.length >= 2) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
            out += a + b; i += 2
          } else { out += toks(i); i += 1 }
        }
        if (out.length < toks.length) toks = out.toArray
      }
    }
    toks
  }

  /** Distributed tokenization: `(id, n_chars_norm, n_bpe)` per doc —
    * `n_bpe` counts the merged subword tokens of every word PLUS the
    * single normalized spaces between words (spaces are inert
    * singleton tokens: no trained merge can contain one, which is the
    * invariant that keeps word-level application equal to whole-text
    * application). One broadcast + one mapPartitions pass, zero
    * shuffles; the pre-tokenization (normalize + whitespace split)
    * runs as Catalyst expressions so engine parity is exact. */
  def tokenCounts(docs: DataFrame, id: String, text: String,
                  merges: Seq[(String, String)]): DataFrame =
    tokenCountsImpl(docs, id, text, merges, length,
      (w, m) => encodeWord(w, m), "n_chars_norm")

  /** Shared body of [[tokenCounts]] / [[tokenCountsBytes]] — only the
    * normalized-length expression (chars vs bytes), the per-word
    * encoder, and the length column name differ. */
  private def tokenCountsImpl(docs: DataFrame, id: String, text: String,
                              merges: Seq[(String, String)],
                              lenExpr: Column => Column,
                              enc: (String, Seq[(String, String)]) => Array[String],
                              lenColName: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(merges.toVector)
    // NULL text degrades to 0 tokens (coalesce) instead of a null Seq
    // that would NPE inside mapPartitions and fail the whole job —
    // matching the NULL-propagating pure-column gates' spirit of one
    // bad row never killing a 100 TB pass. The ORACLES must coalesce
    // identically (bpeNormSql in PipelineQueries), or a NULL row
    // hash-mismatches the gate instead.
    val txt = coalesce(col(text), lit(""))
    docs.select(col(id).cast("long"),
        lenExpr(TextAnalysis.normalize(txt)).cast("long"),
        TextAnalysis.tokensWs(TextAnalysis.normalize(txt)))
      .as[(Long, Long, Seq[String])]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (docId, n, words) =>
          val sub = words.iterator.map(w => enc(w, m).length.toLong).sum
          val spaces = math.max(0, words.size - 1).toLong
          (docId, n, sub + spaces)
        }
      }
      .toDF(id, lenColName, "n_bpe")
  }

  /** Byte-level [[tokenCounts]]: `(id, n_bytes_norm, n_bpe)` per doc —
    * `n_bpe` counts byte-level subword tokens per word plus the single
    * inter-word space bytes ("20" is an inert singleton: trained
    * merges come from whitespace-split pretokens, so no merge side
    * ever is or contains the space byte — the same invariant that
    * makes per-word application equal whole-text replay for the
    * oracle). Broadcast ranks + one mapPartitions pass, zero
    * shuffles. */
  def tokenCountsBytes(docs: DataFrame, id: String, text: String,
                       merges: Seq[(String, String)]): DataFrame =
    tokenCountsImpl(docs, id, text, merges, octet_length,
      (w, m) => encodeWordBytes(w, m), "n_bytes_norm")

  /** Byte-level vocabulary: the FULL 256-byte base alphabet (id =
    * byte value — no corpus dependence, so the table is closed under
    * ANY input string), merge outputs at `256 + rank`. This is what
    * makes byte-level encoding OOV-free by construction. */
  def vocabBytes(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val base = (0 until 256).map(b => (f"$b%02X", b.toLong))
    val mergeIds = merges.zipWithIndex
      .map { case ((a, b), r) => (a + b, 256L + r) }
    (base ++ mergeIds).toDF("token", "id")
  }

  /** Encode one word to byte-level vocabulary ids — TOTAL: a token is
    * either a single hex pair (id = its byte value) or the output of
    * an applied merge (id = 256 + rank), so every string encodes with
    * zero OOV, the property [[encodeIds]] cannot give. `mergeIds` is
    * the (a+b → 256+rank) map; ranks earlier in the table win for
    * textually-aliased outputs, matching [[vocabBytes]] order. */
  def encodeIdsBytes(word: String, merges: Seq[(String, String)],
                     mergeIds: Map[String, Long]): Array[Long] =
    encodeWordBytes(word, merges).map { t =>
      if (t.length == 2) java.lang.Long.parseLong(t, 16)
      else mergeIds(t)
    }

  /** Precomputed merge-output → id map for [[encodeIdsBytes]] (first
    * rank wins on textual aliases, as in [[vocabBytes]]). */
  def byteMergeIds(merges: Seq[(String, String)]): Map[String, Long] =
    merges.zipWithIndex.reverseIterator
      .map { case ((a, b), r) => (a + b, 256L + r) }.toMap

  /** VOCABULARY induced by a merge table over a corpus — the
    * `(token, id)` table a training pipeline feeds its embedding
    * layer: base symbols are the distinct CODE POINTS of the
    * normalized corpus words (space excluded — it is the inert
    * pretoken separator, never a symbol), ids assigned in code-point
    * sort order; each merge's output symbol follows at
    * `base_count + rank`. Fully deterministic given (corpus, merges),
    * on any partitioning. The global sort is ALPHABET-bounded (code
    * points, not words — thousands at the most even for a 100 TB
    * multilingual corpus), so the single-partition window is safe by
    * construction; ids are symbol ids, positional per merge rank (two
    * merges may alias textually in a hand-built table; a TRAINED
    * table's outputs are distinct). */
  def vocab(docs: DataFrame, text: String,
            merges: Seq[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select(explode(TextAnalysis.tokensWs(
        TextAnalysis.normalize(col(text)))).as("w"))
      .select(explode(filter(split(col("w"), ""), x => x =!= ""))
        .as("token"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy("token")
    val baseIds = base
      .withColumn("id", row_number().over(w).cast("long") - 1)
    val nBase = base.count() // alphabet-bounded
    val mergeIds = merges.zipWithIndex
      .map { case ((a, b), r) => (a + b, nBase + r) }.toDF("token", "id")
    baseIds.unionByName(mergeIds)
  }

  /** Encode one word to vocabulary ids: [[encodeWord]] then the
    * broadcastable token→id map from [[vocab]]. Unknown symbols
    * (a token outside the training alphabet) map to -1 — surface
    * them rather than silently dropping, so the caller chooses its
    * own OOV policy (byte fallback, UNK id, filter). */
  def encodeIds(word: String, merges: Seq[(String, String)],
                vocabIds: Map[String, Long]): Array[Long] =
    encodeWord(word, merges).map(t => vocabIds.getOrElse(t, -1L))

  /** Persist a merge table so later sessions tokenize WITHOUT
    * retraining — training reads the corpus once, ever; the artifact
    * is a tiny `(rank, a, b)` parquet published through
    * [[IndexIo.publish]] (the same single-writer / many-readers
    * copy-on-write contract as the ANN indexes, so a re-train never
    * breaks in-flight tokenizer readers). */
  def save(spark: org.apache.spark.sql.SparkSession,
           merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    IndexIo.publish(spark, path, Seq(
        "kind" -> "bpe", "n_merges" -> merges.size.toString)) { dir =>
      merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "a", "b")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    }
  }

  /** Load the current merge table (rank order). The collect is
    * bounded by the merge-table size — a few 10k rows in real
    * vocabularies, broadcast to executors by [[tokenCounts]] anyway.
    * Throws `FileNotFoundException` when nothing was saved at `path`. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): Vector[(String, String)] =
    spark.read.parquet(s"${IndexIo.open(spark, path, "bpe")._1}/merges")
      .orderBy("rank").select("a", "b")
      .collect().map(r => (r.getString(0), r.getString(1))).toVector

  /** The DuckDB replay of [[tokenCounts]] for a FIXED merge table —
    * the oracle side of gate t26. Representation: every token is
    * boundary-marked `\x01 token \x02`, so (1) a merge pattern
    * `\x01a\x02\x01b\x02` can only match whole adjacent tokens (never
    * a token suffix/prefix), and (2) adjacent matches share no
    * characters, so ONE `replace` pass merges all non-overlapping
    * occurrences left-to-right — exactly [[encodeWord]]'s sweep. The
    * final token count is the number of `\x01` markers. Precondition:
    * the corpus text must not contain the marker bytes \x01/\x02
    * themselves (the harness corpus is printable ASCII; the Spark
    * side is marker-free, so only the ORACLE needs this). */
  def oracleTokenCountSql(normExpr: String,
                          merges: Seq[(String, String)]): String = {
    // merge tokens are interpolated into SQL literals: escape quotes,
    // and refuse marker bytes outright (a merge containing \x01/\x02
    // would break the boundary-marked representation itself)
    // ... and refuse spaces: a space is the INERT separator the
    // per-word (Spark) / whole-text (oracle) equivalence depends on --
    // a hand-built merge containing one would merge across word
    // boundaries here while encodeWord never sees a space, a silent
    // engine divergence (trained tables can't contain one: the
    // trainer's pretokens are whitespace-split)
    require(merges.forall { case (a, b) =>
      !s"$a$b".exists(c => c == '\u0001' || c == '\u0002' || c == ' ') },
      "merge tokens must not contain spaces or the \\x01/\\x02 boundary markers")
    def tok(t: String) = s"chr(1)||'${t.replace("'", "''")}'||chr(2)"
    val seq0 = "array_to_string(list_transform(" +
      s"regexp_split_to_array($normExpr, ''), x -> chr(1)||x||chr(2)), '')"
    val replayed = merges.foldLeft(seq0) { case (acc, (a, b)) =>
      s"replace($acc, ${tok(a)}||${tok(b)}, ${tok(a + b)})"
    }
    // empty-norm guard: regexp_split_to_array('', '') returns ['']
    // (one spurious empty token) where tokenCounts counts 0
    s"CAST(CASE WHEN $normExpr = '' THEN 0 ELSE " +
      s"length($replayed) - length(replace($replayed, chr(1), '')) " +
      "END AS BIGINT)"
  }

  /** The DuckDB replay of [[tokenCountsBytes]] — gate t29's oracle.
    * Same boundary-marked replace-chain scheme as
    * [[oracleTokenCountSql]], but the base sequence is the normalized
    * text's UTF-8 bytes as hex pairs (`hex(encode(...))` — uppercase
    * in both engines), so the oracle needs NO marker-byte precondition
    * on the corpus at all: markers wrap printable hex, never raw
    * text. */
  def oracleByteTokenCountSql(normExpr: String,
                              merges: Seq[(String, String)]): String = {
    // merge tokens must be well-formed hex byte runs that exclude the
    // space byte "20" (the inert separator the per-word/whole-text
    // equivalence depends on — trainBytes can never emit it because
    // its pretokens are whitespace-split)
    require(merges.forall { case (a, b) => Seq(a, b).forall { t =>
      t.nonEmpty && t.length % 2 == 0 &&
        t.forall(c => c.isDigit || (c >= 'A' && c <= 'F')) &&
        !t.grouped(2).contains("20") } },
      "byte-level merge tokens must be uppercase hex byte runs without the space byte 20")
    def tok(t: String) = s"chr(1)||'$t'||chr(2)"
    // regexp_extract_all(hex, '..') yields the consecutive hex PAIRS
    // in one pass over a hex string computed ONCE — an index-based
    // lambda would re-evaluate hex(encode(normExpr)) per byte (DuckDB
    // does not hoist loop-invariant lambda subexpressions), turning
    // the oracle O(n²) per document
    val seq0 = s"array_to_string(list_transform(" +
      s"regexp_extract_all(hex(encode($normExpr)), '..'), " +
      "x -> chr(1)||x||chr(2)), '')"
    val replayed = merges.foldLeft(seq0) { case (acc, (a, b)) =>
      s"replace($acc, ${tok(a)}||${tok(b)}, ${tok(a + b)})"
    }
    s"CAST(length($replayed) - length(replace($replayed, chr(1), '')) " +
      "AS BIGINT)"
  }
}
