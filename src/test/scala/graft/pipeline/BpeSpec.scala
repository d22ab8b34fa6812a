package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("fixture merge table IS the trainer's output on the sf0.001 corpus — no drift") {
    // the t26/t27 gates (and their DuckDB oracles) replay
    // Bpe.fixtureMerges; this pin proves the fixture's provenance:
    // re-training deterministically reproduces it, so the fixture can
    // never silently diverge from the trainer
    val docs = graft.catalog.Tables.load(spark, sf, "documents")
    val trained = Bpe.train(docs, "text", numMerges = 24)
    assert(trained == Bpe.fixtureMerges,
      s"trained=$trained\nfixture=${Bpe.fixtureMerges}")
  }

  test("no merge token contains a space — the word/whole-text equivalence invariant") {
    // spaces must stay inert singleton tokens, or the oracle's
    // whole-text replay could merge across word boundaries where the
    // Spark side (per-word) cannot
    assert(Bpe.fixtureMerges.forall { case (a, b) =>
      !a.contains(" ") && !b.contains(" ") })
  }

  test("encodeWord: rank-order sweeps, left-to-right non-overlapping") {
    // chain through ranks: t+h, th+e
    val m = Vector(("t", "h"), ("th", "e"))
    assert(Bpe.encodeWord("the", m).toSeq == Seq("the"))
    assert(Bpe.encodeWord("thethe", m).toSeq == Seq("the", "the"))
    // non-overlap: aaa with (a,a) merges the FIRST pair only
    assert(Bpe.encodeWord("aaa", Vector(("a", "a"))).toSeq == Seq("aa", "a"))
    // a later-rank merge cannot resurrect an earlier pair
    assert(Bpe.encodeWord("ab", Vector(("b", "c"), ("a", "b"))).toSeq ==
      Seq("ab"))
    // fixture sanity on corpus words
    assert(Bpe.encodeWord("window", Bpe.fixtureMerges).toSeq == Seq("window"))
    assert(Bpe.encodeWord("sort", Bpe.fixtureMerges).toSeq == Seq("sort"))
    assert(Bpe.encodeWord("x", Bpe.fixtureMerges).toSeq == Seq("x"))
    assert(Bpe.encodeWord("", Bpe.fixtureMerges).isEmpty)
  }

  test("vocab + encodeIds: code-point-ordered base ids, merge outputs at base_count + rank, OOV = -1") {
    val docs = Seq((1L, "cab bad")).toDF("doc_id", "text")
    val m = Vector(("a", "b"))
    val v = Bpe.vocab(docs, "text", m)
      .as[(String, Long)].collect().toMap
    // alphabet {a,b,c,d} sorted → 0..3; merge output "ab" at 4
    assert(v == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "ab" -> 4L))
    assert(Bpe.encodeIds("cab", m, v).toSeq == Seq(2L, 4L))
    assert(Bpe.encodeIds("bad", m, v).toSeq == Seq(1L, 0L, 3L))
    // out-of-alphabet symbol surfaces as -1, never silently dropped
    assert(Bpe.encodeIds("ax", m, v).toSeq == Seq(0L, -1L))
  }

  test("save/load round-trip: a later session tokenizes identically without retraining") {
    val root = scratchDir("graft_bpe") + "/tok"
    Bpe.save(spark, Bpe.fixtureMerges, root)
    assert(Bpe.load(spark, root) == Bpe.fixtureMerges)
    // re-save (re-train) flips atomically; readers see the new table
    val v2 = Bpe.fixtureMerges.take(5)
    Bpe.save(spark, v2, root)
    assert(Bpe.load(spark, root) == v2)
    // the loaded table drives tokenCounts exactly like the original
    val docs = Seq((1L, "the window sort")).toDF("doc_id", "text")
    def counts(m: Vector[(String, String)]) =
      Bpe.tokenCounts(docs, "doc_id", "text", m)
        .as[(Long, Long, Long)].collect().toSeq
    assert(counts(Bpe.load(spark, root)) == counts(v2))
  }

  test("tokenCounts: n_bpe = per-word subwords + inter-word spaces; compresses vs chars") {
    val docs = Seq(
      (1L, "the window sort"),   // window+sort are single fixture tokens
      (2L, "  spaced   out  "),  // normalization collapses whitespace
      (3L, "zzz")                // no fixture merge applies → 3 chars
    ).toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, "doc_id", "text", Bpe.fixtureMerges)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // doc 1: norm "the window sort" = 15 chars; words → [t,h,e] (no
    // t+h merge in the fixture... check) — compute expected via
    // encodeWord to stay honest
    def exp(text: String): (Long, Long) = {
      val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
      val words = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
      val n = words.map(w => Bpe.encodeWord(w, Bpe.fixtureMerges).length).sum +
        math.max(0, words.length - 1)
      (norm.length.toLong, n.toLong)
    }
    assert(got == Seq(1L, 2L, 3L).zip(
      Seq("the window sort", "  spaced   out  ", "zzz").map(exp))
      .map { case (id, (c, n)) => (id, c, n) })
    // subword counts actually compress: "window" is 1 token, not 6
    val w = got.find(_._1 == 1L).get
    assert(w._3 < w._2, s"BPE must compress doc 1: $w")
  }

  test("byte fixture IS trainBytes' output on the sf0.001 corpus — and the hex mirror of the char fixture") {
    val docs = graft.catalog.Tables.load(spark, sf, "documents")
    val trained = Bpe.trainBytes(docs, "text", numMerges = 24)
    assert(trained == Bpe.fixtureByteMerges,
      s"trained=$trained\nfixture=${Bpe.fixtureByteMerges}")
    // the corpus is ASCII, so byte-level training must reproduce the
    // code-point fixture byte-for-byte (each char = one UTF-8 byte) —
    // a cross-check of BOTH trainers against each other
    def hexOf(s: String) = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    assert(Bpe.fixtureByteMerges ==
      Bpe.fixtureMerges.map { case (a, b) => (hexOf(a), hexOf(b)) })
  }

  test("encodeIdsBytes: ZERO OOV on non-BMP and mixed-script text; ids round-trip to the original bytes") {
    val m = Bpe.fixtureByteMerges
    val mergeIds = Bpe.byteMergeIds(m)
    val idToHex: Map[Long, String] =
      (0 until 256).map(b => (b.toLong, f"$b%02X")).toMap ++
        m.zipWithIndex.map { case ((a, b), r) => (256L + r, a + b) }
    // mixed scripts, combining marks, an astral-plane emoji, CJK —
    // none of it is in the training corpus; code-point encodeIds
    // would return -1 for every unseen character, byte-level never can
    val words = Seq("héllo", "日本語", "🌍🚀", "cafés", "Ω≈ç√",
      "áb", "window", "sort", "x")
    words.foreach { w =>
      val ids = Bpe.encodeIdsBytes(w, m, mergeIds)
      assert(ids.forall(_ >= 0L), s"OOV id in byte-level encode of '$w'")
      // ids decode back to the exact UTF-8 bytes of the word
      val hex = ids.map(idToHex).mkString
      val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      assert(new String(bytes, "UTF-8") == w, s"round-trip broke on '$w'")
    }
    // trained merges still fire at the byte level on corpus words
    assert(Bpe.encodeWordBytes("window", m).toSeq ==
      Seq("77696E646F77")) // one merged token = hex("window")
  }

  test("vocabBytes: full 256-byte base (id = byte value), merges at 256 + rank") {
    val m = Vector(("61", "62"))
    val v = Bpe.vocabBytes(spark, m).as[(String, Long)].collect().toMap
    assert(v.size == 257)
    assert(v("00") == 0L && v("61") == 0x61L && v("FF") == 0xffL)
    assert(v("6162") == 256L)
  }

  test("tokenCountsBytes: per-word byte subwords + inter-word space bytes; NULL text degrades to 0") {
    val docs = Seq((1L, "the window sort"), (2L, "日本 🌍"),
        (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Bpe.tokenCountsBytes(docs, "doc_id", "text",
        Bpe.fixtureByteMerges)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    def exp(text: String): (Long, Long) = {
      val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
      val words = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
      val n = words.map(w =>
        Bpe.encodeWordBytes(w, Bpe.fixtureByteMerges).length).sum +
        math.max(0, words.length - 1)
      (norm.getBytes("UTF-8").length.toLong, n.toLong)
    }
    assert(got == Seq(
      (1L, exp("the window sort")._1, exp("the window sort")._2),
      (2L, exp("日本 🌍")._1, exp("日本 🌍")._2),
      (3L, 0L, 0L)))
    // no fixture merge applies to the non-ASCII doc → token count =
    // byte count of the words (6 + 4 bytes) + 1 space
    assert(got(1)._3 == 11L)
  }
}
