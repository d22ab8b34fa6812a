package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "The  QUICK  brown fox jumps over the lazy dog"), // exact dup of 1 after normalize
    (4L, "completely different words entirely here now"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("simHash64 kernel equals the exploded two-stage formulation") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val toksCol = TextAnalysis.tokensWs(TextAnalysis.normalize($"text"))
    val exploded = df.select($"doc_id", explode(toksCol).as("tok"))
      .withColumn("h", xxhash64($"tok"))
      .groupBy($"doc_id", $"h").agg(count(lit(1)).as("cnt"))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright($"h", i).bitwiseAND(1) === 1, $"cnt")
        .otherwise(-$"cnt")).as(s"b$i"))
    val agg = exploded.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sigExpr = (0 until 64).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    val old = agg.select($"doc_id", sigExpr.as("simhash"))
      .as[(Long, Long)].collect().toMap
    val neu = Dedup.simHash64(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(neu == old)
  }

  test("hashedShingles values equal xxhash64 of the shingle strings") {
    val stringHashes = Dedup.shingles(docs, "doc_id", "text", 3)
      .select($"doc_id", xxhash64($"shingle").as("h"))
      .as[(Long, Long)].collect().toSet
    val fast = Dedup.hashedShingles(docs, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSet
    assert(fast == stringHashes)
  }

  test("tokensWs: empty text yields zero tokens, not one") {
    val got = docs.select(col("doc_id"), TextAnalysis.nTokensWs(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got(5L) == 0 && got(1L) == 9)
  }

  test("fine tokens split punctuation runs") {
    val n = Seq(("Hello, world! it's 42")).toDF("t")
      .select(TextAnalysis.nTokensFine(col("t"))).as[Int].head()
    // Hello , world ! it ' s 42
    assert(n == 8)
  }

  test("normalize collapses case and whitespace") {
    val fp = docs.select(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .as[String].collect()
    assert(fp(0) == fp(2)) // doc 3 normalizes to doc 1
    assert(fp(0) != fp(1))
  }

  test("rollingHash matches hand computation") {
    val got = Seq("ab").toDF("t")
      .select(TextAnalysis.rollingHash(col("t"))).as[Long].head()
    assert(got == (97L * 31 + 98) % 1000000007L)
  }

  test("langId picks the wordset with most hits") {
    val got = Seq("der hund und die katze ist da", "the cat and the dog",
        "el gato y la casa es","le chat et la maison est dans")
      .toDF("t").select(TextAnalysis.langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("de", "en", "es", "fr"))
  }

  test("exact dedup keeps min doc_id per normalized content") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 4L, 5L)) // 3 deduped into 1
  }

  test("shingles: short docs produce no bogus n-grams") {
    val sh = Dedup.shingles(Seq((1L, "one two")).toDF("doc_id", "text"),
      "doc_id", "text", 3)
    assert(sh.count() == 0)
  }

  test("editDistancePairs equals brute force, including the short band") {
    // mixed corpus: long strings (gram path), tiny strings below the
    // vacuous-bound cutoff (short band: q=2, tau=3 → shortMax=7), and
    // an out-of-band unrelated long string
    val strs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumped over the lazy dog", // ed 2
      3L -> "a completely different sentence with other words here",
      4L -> "cat", 5L -> "cart", 6L -> "carts", 7L -> "dog",
      8L -> "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    val tau = 3
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (i1, s1) <- strs; (i2, s2) <- strs
      if i1 < i2 && lev(s1, s2) <= tau
    } yield (i1, i2, lev(s1, s2).toLong)).toSet
    val got = Dedup.editDistancePairs(strs.toDF("doc_id", "text"),
        "doc_id", "text", tau = tau, q = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(expected.contains((1L, 2L, 2L)) && expected.contains((4L, 5L, 1L)))
  }

  test("ngramJaccard finds the near-dup pair and not the unrelated doc") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("WAV codec roundtrip: decoded format and waveform stats are exact") {
    // stereo, 44.1k, constant amplitude -300 → mean |sample| = 300
    val wav = Multimodal.pcmWav(nFrames = 50, sampleRate = 44100,
      channels = 2, amplitude = -300)
    val got = Multimodal.decodeAudio(
      MediaRecord(1L, "audio/wav", wav, wav.length.toLong)).get
    assert(got.sample_rate == 44100 && got.channels == 2 &&
      got.n_frames == 50L && got.mean_abs == 300.0)
    // silence decodes to zero energy
    val quiet = Multimodal.pcmWav(10, 8000, 1, amplitude = 0)
    assert(Multimodal.decodeAudio(
      MediaRecord(2L, "audio/wav", quiet, quiet.length.toLong))
      .get.mean_abs == 0.0)
    // garbage bytes are rejected, not mis-decoded
    assert(Multimodal.decodeAudio(
      MediaRecord(3L, "audio/wav", Array[Byte](1, 2, 3, 4), 4L)).isEmpty)
  }

  test("animated-GIF frame decode recovers every frame's gray exactly") {
    val gif = Multimodal.animatedGif(width = 5, height = 4,
      grays = Seq(0, 77, 200, 255))
    val frames = Multimodal.decodeFrames(
      MediaRecord(9L, "image/gif", gif, gif.length.toLong))
    assert(frames.map(_._2) == Seq(0, 1, 2, 3))
    assert(frames.forall(f => f._3 == 5 && f._4 == 4))
    assert(frames.map(_._5) == Seq(0.0, 77.0, 200.0, 255.0))
    // garbage bytes decode to no frames, not an exception
    assert(Multimodal.decodeFrames(
      MediaRecord(10L, "video/mp4", Array[Byte](9, 9, 9), 3L)).isEmpty)
  }

  test("pHash64: resize-invariant within 6 bits, discriminative across patterns, None on garbage") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // the SAME block pattern at two sizes must land within the
    // near-dup threshold; DIFFERENT patterns must stay well outside
    (0 until 20).foreach { seed =>
      val a = Multimodal.pHash64(Multimodal.blockPngAt(seed, alt = false)).get
      val b = Multimodal.pHash64(Multimodal.blockPngAt(seed, alt = true)).get
      assert(ham(a, b) <= 6, s"seed $seed: resize moved the hash ${ham(a, b)} bits")
    }
    val hs = (0 until 20).map(s =>
      Multimodal.pHash64(Multimodal.blockPngAt(s.toLong, alt = false)).get)
    for (i <- hs.indices; j <- (i + 1) until hs.size)
      assert(ham(hs(i), hs(j)) > 6, s"patterns $i/$j collided at ${ham(hs(i), hs(j))}")
    assert(Multimodal.pHash64(Array[Byte](1, 2, 3)).isEmpty)
    // recognized-but-corrupt: valid PNG magic, truncated body — the
    // decoder THROWS (rather than returning null); must yield None,
    // not fail the task
    assert(Multimodal.pHash64(Multimodal.blockPngAt(0L, alt = false).take(24)).isEmpty)
  }

  test("pHashNearDup surfaces exactly the planted resized-copy pairs") {
    import spark.implicits._
    // 30 groups × 2 renders (64×48 and 96×72) + one undecodable row
    val media = spark.range(60).as[Long].mapPartitions(_.map { id =>
      val png = Multimodal.blockPngAt(id / 2, alt = id % 2 == 1)
      MediaRecord(id, "image/png", png, png.length.toLong)
    }).union(Seq(MediaRecord(999L, "image/png", Array[Byte](7), 1L)).toDS())
    val pairs = Multimodal.pHashNearDup(media, bands = 8, maxHamming = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expected = (0 until 30).map(g => (2L * g, 2L * g + 1)).toSet
    assert(pairs == expected, s"diff: ${pairs.diff(expected)} / ${expected.diff(pairs)}")
  }

  test("audioFingerprint64: sample-rate-invariant (hamming 0), discriminative, None on garbage") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // the SAME step pattern rendered at 8 kHz and 16 kHz must hash
    // IDENTICALLY (time-normalized exact-integer buckets — no margin);
    // different patterns must differ in ~half the bits
    (0L until 20L).foreach { g =>
      val a = Multimodal.audioFingerprint64(
        Multimodal.stepWavAt(g, highRate = false)).get
      val b = Multimodal.audioFingerprint64(
        Multimodal.stepWavAt(g, highRate = true)).get
      assert(ham(a, b) == 0, s"group $g: resample moved the hash ${ham(a, b)} bits")
    }
    val hs = (0L until 20L).map(g =>
      Multimodal.audioFingerprint64(Multimodal.stepWavAt(g, highRate = false)).get)
    for (i <- hs.indices; j <- (i + 1) until hs.size)
      assert(ham(hs(i), hs(j)) > 6, s"patterns $i/$j collided at ${ham(hs(i), hs(j))}")
    // stereo clips fingerprint too (mono mix), garbage returns None
    val stereo = Multimodal.pcmWav(130, 8000, 2, amplitude = 100)
    assert(Multimodal.audioFingerprint64(stereo).isDefined)
    assert(Multimodal.audioFingerprint64(Array[Byte](1, 2, 3)).isEmpty)
    // sub-65-frame clips cannot fill the buckets: None, not garbage
    assert(Multimodal.audioFingerprint64(
      Multimodal.pcmWav(10, 8000, 1, amplitude = 5)).isEmpty)
  }

  test("audioNearDup surfaces exactly the planted resampled-copy pairs") {
    import spark.implicits._
    // 30 groups × 2 renders (8 kHz and 16 kHz) + one undecodable row
    val media = spark.range(60).as[Long].mapPartitions(_.map { id =>
      val wav = Multimodal.stepWavAt(id / 2, highRate = id % 2 == 1)
      MediaRecord(id, "audio/wav", wav, wav.length.toLong)
    }).union(Seq(MediaRecord(999L, "audio/wav", Array[Byte](7), 1L)).toDS())
    val pairs = Multimodal.audioNearDup(media, bands = 8, maxHamming = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expected = (0 until 30).map(g => (2L * g, 2L * g + 1)).toSet
    assert(pairs == expected, s"diff: ${pairs.diff(expected)} / ${expected.diff(pairs)}")
  }

  test("qualityVerdicts: rule order, exact boundaries, every record keeps a verdict") {
    import spark.implicits._
    val media = Seq(
      // 10×64 fails BOTH too_small and extreme_aspect → first rule wins
      MediaRecord(1L, "image/png", Multimodal.grayPng(10, 64, 128), 0L),
      // aspect EXACTLY 2.0 (128×64) passes the ≤2 bound
      MediaRecord(2L, "image/png", Multimodal.grayPng(128, 64, 128), 0L),
      MediaRecord(3L, "image/png", Multimodal.grayPng(192, 64, 128), 0L),
      // solid means sit exactly ON the [16,240] bounds → pass
      MediaRecord(4L, "image/png", Multimodal.grayPng(64, 64, 16), 0L),
      MediaRecord(5L, "image/png", Multimodal.grayPng(64, 64, 241), 0L),
      MediaRecord(6L, "image/png", Array[Byte](1, 2), 2L),
      // exactly 0.25 s at 8 kHz = 2000 frames → passes the ≥ bound
      MediaRecord(7L, "audio/wav", Multimodal.pcmWav(2000, 8000, 1, 60), 0L),
      MediaRecord(8L, "audio/wav", Multimodal.pcmWav(1999, 8000, 1, 60), 0L),
      MediaRecord(9L, "audio/wav", Multimodal.pcmWav(2000, 8000, 1, 49), 0L),
      // stereo: duration counts FRAMES, not samples
      MediaRecord(10L, "audio/wav", Multimodal.pcmWav(2000, 8000, 2, 60), 0L),
      MediaRecord(11L, "audio/wav", Array[Byte](9), 1L),
      // out-of-scope modalities reject AS THEMSELVES, never as a
      // broken image (the per-modality dashboards depend on it)
      MediaRecord(12L, "video/mp4", Array[Byte](9), 1L),
      MediaRecord(13L, "", Array[Byte](9), 1L)).toDS()
    val got = Multimodal.qualityVerdicts(media)
      .collect().map(v => v.media_id -> (v.ok, v.reason)).toMap
    assert(got(1L) == (false, "too_small"))
    assert(got(2L) == (true, "ok"))
    assert(got(3L) == (false, "extreme_aspect"))
    assert(got(4L) == (true, "ok"))
    assert(got(5L) == (false, "dark_or_blown"))
    assert(got(6L) == (false, "undecodable"))
    assert(got(7L) == (true, "ok"))
    assert(got(8L) == (false, "too_short"))
    assert(got(9L) == (false, "silent"))
    assert(got(10L) == (true, "ok"))
    assert(got(11L) == (false, "undecodable"))
    assert(got(12L) == (false, "unsupported_modality"))
    assert(got(13L) == (false, "unsupported_modality"))
    assert(got.size == 13) // verdicts, never drops
    val mods = Multimodal.qualityVerdicts(media)
      .collect().map(v => v.media_id -> v.modality).toMap
    assert(mods(12L) == "video" && mods(13L) == "unknown")
  }

  test("quarantine lanes: undecodable media keeps its id + reason, never dropped") {
    import spark.implicits._
    val png = Multimodal.grayPng(4, 3, 128)
    val wav = Multimodal.pcmWav(10, 8000, 1, amplitude = 5)
    val gif = Multimodal.animatedGif(3, 3, Seq(10, 20))
    val junk = Array[Byte](0x13, 0x37, 0x00, 0x42)
    // a truncated PNG: recognized magic, corrupt body
    val torn = png.take(24)

    val images = Seq(
      MediaRecord(1L, "image/png", png, png.length.toLong),
      MediaRecord(2L, "image/png", junk, junk.length.toLong),
      MediaRecord(3L, "image/png", torn, torn.length.toLong),
      MediaRecord(4L, "image/fake", junk, junk.length.toLong)).toDS()
    val (feat, featQ) = Multimodal.extractFeaturesWithQuarantine(images)
    // decoded lane: the real PNG plus the declared-fake stub record
    assert(feat.collect().map(_.media_id).toSet == Set(1L, 4L))
    val q = featQ.collect()
    assert(q.map(_.media_id).toSet == Set(2L, 3L))
    assert(q.forall(r => r.reason.nonEmpty && r.media_type == "image/png"))

    val audio = Seq(
      MediaRecord(11L, "audio/wav", wav, wav.length.toLong),
      MediaRecord(12L, "audio/wav", junk, junk.length.toLong)).toDS()
    val (af, aq) = Multimodal.extractAudioFeaturesWithQuarantine(audio)
    assert(af.collect().map(_.media_id).toSeq == Seq(11L))
    assert(aq.collect().map(q => (q.media_id, q.n_bytes)) ===
      Array((12L, junk.length.toLong)))

    val vids = Seq(
      MediaRecord(21L, "image/gif", gif, gif.length.toLong),
      MediaRecord(22L, "video/mp4", junk, junk.length.toLong)).toDS()
    val (frames, fq) = Multimodal.extractFramesWithQuarantine(vids)
    assert(frames.select("media_id").as[Long].collect().toSet == Set(21L))
    assert(frames.count() == 2) // both GIF frames
    assert(fq.collect().map(_.media_id).toSeq == Seq(22L))
  }

  test("containment catches a quoted subset that Jaccard misses") {
    val host = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra tango"
    val corpus = Seq(
      (1L, host),                            // 20 tokens → 18 shingles
      (2L, "alpha bravo charlie delta echo"),// prefix quote: 3 shingles ⊆ host
      (3L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 3, minContainment = 0.99)
      .as[(Long, Long, Double)].collect().toSeq
    assert(c == Seq((1L, 2L, 1.0))) // the quote is fully contained
    // the same pair is invisible to Jaccard at any useful threshold:
    // J = 3/18 ≈ 0.17
    val j = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, minJaccard = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!j.contains((1L, 2L)))
  }

  test("minhash LSH surfaces high-jaccard pairs") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 2, k = 32, bands = 16, minEstJaccard = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // identical after normalize: est j = 1
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash: identical normalized docs have hamming 0") {
    val sigs = Dedup.simHash64(docs, "doc_id", "text")
    val m = sigs.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(3L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(2L)) <
      java.lang.Long.bitCount(m(1L) ^ m(4L)))
    val pairs = Dedup.simHashPairs(sigs, "doc_id", bands = 8, maxHamming = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("minHashVerifiedDuplicates: exactly the equal-shingle-set pairs, recall 1") {
    val pairs = Dedup.minHashVerifiedDuplicates(docs, "doc_id", "text", n = 2)
      .as[(Long, Long)].collect().toSet
    // 1 and 3 are identical after normalize (equal shingle sets);
    // 2 is a near-dup (different set) and must NOT appear
    assert(pairs == Set((1L, 3L)))
  }

  test("simHashVerifiedDuplicates: exactly the equal-token-multiset pairs") {
    val pairs = Dedup.simHashVerifiedDuplicates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)))
  }

  test("removeNearDuplicates keeps the min-id member of each dup cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.3)
    val kept = Dedup.removeNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // cluster {1,2,3} keeps 1; 4 and 5 untouched
    assert(kept == Seq(1L, 4L, 5L))
  }

  test("packSequences: concat-then-chunk pack ids across shard boundaries") {
    val toks = Seq((0L, 3L), (1L, 4L), (2L, 5L), (10L, 2L), (11L, 9L))
      .toDF("doc_id", "n_tok")
    val got = TextAnalysis.packSequences(toks, "doc_id", "n_tok",
        budget = 6, shardSpan = 10)
      .select("doc_id", "offset", "pack_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // exclusive offsets 0,3,7 | shard base 12 → 12,14; packs at 6:
    // 0,0,1 | 2,2 — doc 2 straddles the pack-1 boundary by design
    assert(got == Seq((0L, 0L, 0L), (1L, 3L, 0L), (2L, 7L, 1L),
      (10L, 12L, 2L), (11L, 14L, 2L)))
  }

  test("searchBm25: both-terms doc tops; rare term outweighs a common term's tf") {
    val corpus = Seq(
      (1L, "alpha beta beta beta"), // common term only, high tf
      (2L, "zeta beta"),            // both query terms
      (3L, "beta gamma"),           // common term only
      (4L, "zeta gamma delta"))     // rare term only
      .toDF("doc_id", "text")
    val idx = TextAnalysis.termIndex(corpus, "doc_id", "text")
    val dls = TextAnalysis.docLengths(corpus, "doc_id", "text")
    val got = TextAnalysis.searchBm25(idx, dls, "doc_id",
        Seq("zeta", "beta"), k = 4)
      .select("doc_id", "n_terms", "score")
      .as[(Long, Long, Double)].collect().sortBy(-_._3).toSeq
    assert(got.length == 4)
    assert(got.head._1 == 2L && got.head._2 == 2L) // both terms → top
    val score = got.map(r => r._1 -> r._3).toMap
    // idf: zeta df=2 → ln 2; beta df=3 → ln(1+1.5/3.5). The single
    // rare 'zeta' (doc 4) must outrank three 'beta's (doc 1).
    assert(score(4L) > score(1L), s"idf weighting broken: $score")
  }

  test("lmScore: repetitive (predictable) text scores lower NLL than novel text") {
    val corpus = Seq(
      (1L, "a b a b a b"),  // transitions seen 2-3x each
      (2L, "c d e f g h")   // every transition unique
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(corpus, "doc_id", "text")
      .select("doc_id", "n_bigrams", "nll")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 5 && got(2L)._2 == 5)
    // hand-computed with k=0.5, V=8: doc 1 = 3·ln2 + 2·ln(6/2.5) ≈ 3.83,
    // doc 2 = 5·ln(5/1.5) ≈ 6.02
    assert(math.abs(got(1L)._3 - (3 * math.log(2.0) + 2 * math.log(6.0 / 2.5))) < 1e-4)
    assert(math.abs(got(2L)._3 - 5 * math.log(5.0 / 1.5)) < 1e-4)
    assert(got(1L)._3 < got(2L)._3)
  }

  test("packSequencesSliced: straddling docs split into exact tiling slices") {
    val toks = Seq((0L, 3L), (1L, 4L), (2L, 5L), (10L, 2L), (11L, 9L), (12L, 0L))
      .toDF("doc_id", "n_tok")
    val got = TextAnalysis.packSequencesSliced(toks, "doc_id", "n_tok",
        budget = 6, shardSpan = 10)
      .select("doc_id", "pack_id", "slice_start", "slice_len")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // offsets 0,3,7 | 12,14,23 (two shards); budget 6: doc 1 straddles
    // packs 0/1, doc 11 straddles 2/3; the zero-token doc 12 keeps one
    // empty slice
    assert(got == Seq(
      (0L, 0L, 0L, 3L), (1L, 0L, 0L, 3L), (1L, 1L, 3L, 1L),
      (2L, 1L, 0L, 5L), (10L, 2L, 0L, 2L),
      (11L, 2L, 0L, 4L), (11L, 3L, 4L, 5L), (12L, 3L, 0L, 0L)))
    // tiling property: per-doc slice lengths sum to n_tok
    val sums = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(sums == Map(0L -> 3L, 1L -> 4L, 2L -> 5L, 10L -> 2L, 11L -> 9L, 12L -> 0L))
  }

  test("dupClusters closes chains exactly: A~B~C with A≁C is one component") {
    // two chains and an isolated pair; (10,30) and (20,30) form one
    // component even though 10~20 is never a pair — the case greedy
    // pairwise removal gets wrong
    val pairs = Seq((10L, 30L), (20L, 30L), (40L, 41L), (41L, 42L), (50L, 51L))
      .toDF("id1", "id2")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 41L -> 40L, 42L -> 40L, 50L -> 50L, 51L -> 50L))
    graft.ops.CacheScope.releaseAll()
  }

  // a single 64-node chain: min label must travel 63 hops; with
  // path halving that is ~6 rounds, and maxIters=12 would fail
  // without the jump
  private lazy val longChain = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")

  test("dupClusters converges on a long chain (pointer jumping)") {
    val pairs = longChain
    val got = Dedup.dupClusters(pairs, maxIters = 12)
    assert(got.filter(col("cluster") =!= 0L).count() == 0L)
    assert(got.count() == 64L)
    graft.ops.CacheScope.releaseAll()
  }

  test("dupClusters: each round's checkpoint job carries the change count, no probe job") {
    // the long chain takes 6 rounds. The loop that probed each
    // checkpoint with a limit(1).count ran 55–57 jobs here (4-core
    // local session); at least one job per round must be gone.
    val (got, jobs) = jobsOf(Dedup.dupClusters(longChain, maxIters = 12))
    assert(got.filter(col("cluster") =!= 0L).count() == 0L)
    assert(jobs <= 55 - 6, s"jobs=$jobs")
    graft.ops.CacheScope.releaseAll()
  }

  test("removeNearDuplicates exact=true keeps one doc per chained component") {
    // doc graph on ids {1,2,3}: pairs (1,3),(2,3) — greedy keeps {1,2},
    // exact closure keeps only 1
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id1", "id2")
    val greedy = Dedup.removeNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(greedy == Seq(1L, 2L, 4L, 5L))
    val exact = Dedup.removeNearDuplicates(docs, pairs, "doc_id", exact = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exact == Seq(1L, 4L, 5L))
    graft.ops.CacheScope.releaseAll()
  }

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 1
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f))   // opposite of 1
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 4L))
  }

  test("lshNearDupPairs finds close pair, verified cosine is exact") {
    val got = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
      minCosine = 0.9, planes = 8, bands = 4)
    val rows = got.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    val cos = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2)
    assert(math.abs(cos - 0.9 / math.sqrt(0.82)) < 1e-9)
  }

  test("lshTopK ranks within probed buckets only (still finds the near dup)") {
    val got = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 2, planes = 8, bands = 4)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got.contains(2L))
  }

  test("duplicateSpans: cross-doc windows only, short docs emit nothing") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),       // shares a b..h window with 2
      (2L, "z a b c d e f g h"),         // one shared 8-gram with 1
      (3L, "p q r s t u v w x y"),       // unique text: no dup spans
      (4L, "w1 w2 w3 w4 w5 w6 w7"),      // 7 tokens < n: zero windows
      (5L, "m m m m m m m m m m m m m m m m")) // self-repeats only
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    // doc1: windows at pos1..3; only "a b c d e f g h" (pos1) is in
    // doc2 too. doc2: pos2 matches. Self-repeats (doc5) and unique
    // docs (3, 4) emit nothing — the measure is CROSS-document.
    assert(got == Seq((1L, 1L), (2L, 1L)))
  }

  test("contaminationSpans: verbatim benchmark windows flag, 7-token overlaps and benchmark-internal repeats don't") {
    val corpus = Seq(
      (1L, "x1 x2 q1 q2 q3 q4 q5 q6 q7 q8 x3"), // embeds the full question
      (2L, "q1 q2 q3 q4 q5 q6 q7 y1 y2 y3"),    // only 7 shared tokens
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"))       // clean
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "q1 q2 q3 q4 q5 q6 q7 q8"),        // one 8-token question
      (101L, "q1 q2 q3 q4 q5 q6 q7 q8"))        // repeated in the set
      .toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(corpus, bench, "doc_id", "text",
        n = 8).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    // doc1's window at pos3 is the benchmark question verbatim — ONE
    // contaminated position; doc2's longest overlap is 7 tokens (< n)
    // and doc3 shares nothing; the benchmark-internal duplicate must
    // not double-count doc1's hit
    assert(got == Seq((1L, 1L)))
  }

  test("multimodal stub codec is deterministic and plumbing-preserving") {
    val media = Multimodal.fromText(docs.filter(col("doc_id") === 1), "doc_id", "text")
      .as[MediaRecord]
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.n_bytes == 43 && f.width == 1 + 't' % 64 && f.height == 1 + 'h' % 64)
    assert(f.channels == 3 && f.mean_byte > 0)
    val frames = Multimodal.sampleFrames(media, 16)
    assert(frames.count() == 3) // offsets 0, 16, 32
  }

  test("imageio codec decodes real PNGs distributed: exact dims, channels, mean") {
    val media = spark.range(0, 24).as[Long].mapPartitions(_.map { id =>
      val png = Multimodal.grayPng(width = 3 + id.toInt, height = 5, gray = id.toInt * 10)
      MediaRecord(id, "image/png", png, png.length.toLong)
    })
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(got.size == 24)
    got.foreach { case (id, f) =>
      assert(f.width == 3 + id.toInt && f.height == 5 && f.channels == 3)
      assert(f.mean_byte == (id.toInt * 10).toDouble) // PNG lossless
    }
  }

  test("imageio codec handles JPEG and falls back to the stub for unknown payloads") {
    // JPEG is lossy: dimensions are exact, pixel values approximate
    val img = new java.awt.image.BufferedImage(17, 9,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = MediaRecord(1L, "image/jpeg", bos.toByteArray, bos.size().toLong)
    val f = Multimodal.decode(jpeg)
    assert(f.width == 17 && f.height == 9)
    // a declared image that no reader parses degrades to the stub
    val junk = MediaRecord(2L, "image/png", Array[Byte](1, 2, 3), 3L)
    val g = Multimodal.decode(junk)
    assert(g.width == 1 + 1 % 64 && g.height == 1 + 2 % 64) // stub header
    // non-image types never touch imageio
    val audio = MediaRecord(3L, "audio/wav", Array[Byte](9, 8, 7), 3L)
    assert(Multimodal.decode(audio).width == 1 + 9 % 64)
  }

  test("chunkOverlap: stride windows share the overlap and reconstruct the doc") {
    import spark.implicits._
    val docs = Seq(
      ("d1", (1 to 37).map(i => s"t$i").mkString(" ")), // tail chunk short
      ("d2", (1 to 16).map(i => s"t$i").mkString(" ")), // exactly one chunk
      ("d3", "solo"),                                   // shorter than chunk
      ("d4", "   "),                                    // whitespace-only: dropped
      ("d5", "")                                        // empty: dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkOverlap(docs, "doc_id", "text",
      chunkTokens = 16, overlapTokens = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))

    assert(!out.exists(t => t._1 == "d4" || t._1 == "d5"))
    // exactly chunk-sized doc: ONE chunk, no contained tail duplicate
    assert(out.filter(_._1 == "d2") ===
      Array(("d2", 0L, 16L, (1 to 16).map(i => s"t$i").mkString(" "))))
    assert(out.filter(_._1 == "d3") === Array(("d3", 0L, 1L, "solo")))

    // d1: starts 0,12,24 -> lens 16,16,13; consecutive chunks share
    // exactly the 4-token overlap; stitching strides rebuilds the doc
    val d1 = out.filter(_._1 == "d1")
    assert(d1.map(_._3).toSeq == Seq(16L, 16L, 13L))
    val chunks = d1.map(_._4.split(" ").toSeq)
    chunks.sliding(2).foreach { case Array(a, b) =>
      assert(a.takeRight(4) == b.take(4)) }
    val stitched = chunks.head ++ chunks.tail.flatMap(_.drop(4))
    assert(stitched == (1 to 37).map(i => s"t$i"))
  }

  test("resolveDuplicates: per-cluster best survives, chains resolve transitively") {
    import spark.implicits._
    // cluster {1,2,3} chained 1-2, 2-3 (1 and 3 never paired directly):
    // doc 2 has the best quality → keep 2, drop 1 and 3.
    // cluster {10,11}: equal quality → tie-break keeps the SMALLER id.
    // doc 99 is in no pair → passes through.
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 7.0),
      (10L, 4.0), (11L, 4.0), (99L, 1.0))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val kept = Dedup.resolveDuplicates(docs, "doc_id", pairs, "q")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 10L, 99L))
  }

  test("weightedSample: deterministic, k-bounded, excludes non-positive weights") {
    import spark.implicits._
    val df = (1L to 500L).map(id => (id, if (id % 97 == 0) 0.0 else id.toDouble))
      .toDF("id", "w")
    val s1 = TextAnalysis.weightedSample(df, "id", "w", k = 50)
      .select("id").as[Long].collect().sorted.toSeq
    val s2 = TextAnalysis.weightedSample(df, "id", "w", k = 50)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 == s2 && s1.size == 50)
    assert(s1.forall(_ % 97 != 0), "zero-weight rows must never be drawn")
    // a different salt draws a different sample
    val s3 = TextAnalysis.weightedSample(df, "id", "w", k = 50, salt = 7L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s3 != s1)
  }

  test("weightedSample: ids colliding mod one prime still draw distinct u (no id-order bias)") {
    import spark.implicits._
    // 50 equal-weight ids all ≡ 5 (mod 1000003): a single-prime draw
    // gives them IDENTICAL u, the id tie-break then always selects the
    // k smallest ids — a systematic bias toward old documents at
    // corpus scale. The two-prime composition collides only mod BOTH
    // primes (~1e12 period), so the selection must not be the k
    // smallest ids.
    val ids = (0L until 50L).map(j => j * 1000003L + 5L)
    val df = ids.map(id => (id, 1.0)).toDF("id", "w")
    val got = TextAnalysis.weightedSample(df, "id", "w", k = 10)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got.size == 10)
    assert(got != ids.sorted.take(10),
      "selection collapsed to the k smallest ids — u values collided")
  }

  test("weightedSample: heavier rows are favored (A-Res bias check)") {
    import spark.implicits._
    // ids 1..1000: weight 100 for ids <= 100, weight 1 otherwise —
    // heavy mass fraction = 100*100/(100*100+900) ≈ 0.917, so a
    // 100-row sample should be dominated by heavy ids
    val df = (1L to 1000L).map(id =>
      (id, if (id <= 100) 100.0 else 1.0)).toDF("id", "w")
    val heavy = TextAnalysis.weightedSample(df, "id", "w", k = 100)
      .select("id").as[Long].collect().count(_ <= 100)
    assert(heavy > 55, s"expected heavy-weight dominance, got $heavy/100")
  }
}
