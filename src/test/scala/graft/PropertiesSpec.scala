package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.domain.{Trade, Trading}
import graft.ops.Kernels

/** Property-based invariants (SURVEY §5.3): the constraints the
  * reference encodes as CHECKs/guards, checked over generated inputs.
  * Kept to few-but-meaningful cases per property — each case runs
  * Spark jobs. */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val genTrade: Gen[Trade] = for {
    pf <- Gen.choose(1L, 3L)
    sym <- Gen.oneOf("A", "B")
    ts <- Gen.choose(1L, 50L)
    seq <- Gen.choose(1L, 1000000L)
    side <- Gen.oneOf("BUY", "SELL")
    qty <- Gen.choose(1, 20).map(_.toDouble)
    price <- Gen.choose(1, 500).map(_ / 10.0)
  } yield Trade(pf, sym, ts, seq, side, qty, price)

  private val genTrades = Gen.listOfN(12, genTrade)

  property("trading fold: shares never negative, avg bounded by buy prices") =
    forAll(genTrades) { trades =>
      val hs = Trading.replay(trades.toDS()).collect()
      hs.forall { h =>
        val buys = trades.filter(t =>
          t.portfolio == h.portfolio && t.symbol == h.symbol && t.side == "BUY")
        // the avg bound applies to OPEN positions only: a closed
        // position that still surfaces (rejected > 0, shares == 0)
        // carries avg 0.0 — the reference DELETEs the row on full sell
        h.shares >= 0 &&
          (h.shares == 0.0 || buys.isEmpty ||
            (h.avg_cost >= buys.map(_.price).min - 1e-9 &&
              h.avg_cost <= buys.map(_.price).max + 1e-9))
      }
    }

  property("trading fold: invariant to input row order") =
    forAll(genTrades) { trades =>
      // distinct (ts, seq) per key so ordering is total
      val uniq = trades.zipWithIndex.map { case (t, i) => t.copy(seq = i.toLong) }
      val a = Trading.replay(uniq.toDS()).collect().sortBy(h => (h.portfolio, h.symbol))
      val b = Trading.replay(uniq.reverse.toDS()).collect().sortBy(h => (h.portfolio, h.symbol))
      a.toSeq == b.toSeq
    }

  private val genKv = Gen.listOfN(8,
    Gen.zip(Gen.choose(1, 6), Gen.alphaStr.map(_.take(4))))

  property("upsert: src wins, key-set is the union, idempotent") =
    forAll(genKv, genKv) { (t, s) =>
      val target = t.distinctBy(_._1).toDF("k", "v")
      val src = s.distinctBy(_._1).toDF("k", "v")
      val once = Kernels.upsert(target, src, Seq("k"))
      val keys = once.select("k").as[Int].collect().toSet
      val expectKeys = t.map(_._1).toSet ++ s.map(_._1).toSet
      val srcMap = s.distinctBy(_._1).toMap
      val vals = once.as[(Int, String)].collect().toMap
      val srcWins = srcMap.forall { case (k, v) => vals(k) == v }
      val twice = Kernels.upsert(once, src, Seq("k"))
      keys == expectKeys && srcWins &&
        twice.as[(Int, String)].collect().toMap == vals
    }

  property("insertIfAbsent: target rows always win") =
    forAll(genKv, genKv) { (t, s) =>
      val target = t.distinctBy(_._1).toDF("k", "v")
      val src = s.distinctBy(_._1).toDF("k", "v")
      val got = Kernels.insertIfAbsent(target, src, Seq("k"))
        .as[(Int, String)].collect().toMap
      t.distinctBy(_._1).forall { case (k, v) => got(k) == v }
    }

  property("normalizeEdge: u1 <= u2 always, pair-set preserved") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(1, 9), Gen.choose(1, 9)))) { es =>
      val got = Kernels.normalizeEdge(es.toDF("a", "b"), "a", "b")
        .as[(Int, Int)].collect()
      got.forall { case (u1, u2) => u1 <= u2 } &&
        got.map { case (u1, u2) => Set(u1, u2) }.toSet ==
          es.map { case (a, b) => Set(a, b) }.toSet
    }

  private val genDocs: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(3, 8)
    docs <- Gen.listOfN(n, Gen.nonEmptyListOf(
      Gen.oneOf("spark", "fast", "key", "row", "data", "the", "a", "join"))
      .map(_.mkString(" ")))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("exact dedup: unique fingerprints out, min-id survivor, content preserved") =
    forAll(genDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = graft.pipeline.Dedup.exact(df, "doc_id", "text")
        .as[(Long, String)].collect()
      def norm(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
      val expectSurvivors = docs.groupBy(d => norm(d._2))
        .values.map(_.map(_._1).min).toSet
      got.map(_._1).toSet == expectSurvivors &&
        got.map(d => norm(d._2)).distinct.length == got.length
    }

  property("ngram jaccard pairs: bounded in (0, 1], symmetric by construction") =
    forAll(genDocs) { docs =>
      val pairs = graft.pipeline.Dedup.ngramJaccardPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", n = 2, minJaccard = 0.0)
        .as[(Long, Long, Double)].collect()
      pairs.forall { case (a, b, j) => a < b && j > 0.0 && j <= 1.0 + 1e-12 }
    }

  property("simhash of identical docs collide; est jaccard bounded") =
    forAll(genDocs.suchThat(_.nonEmpty)) { docs =>
      val dup = docs ++ docs.map { case (i, t) => (i + 1000L, t) }
      val sigs = graft.pipeline.Dedup.simHash64(dup.toDF("doc_id", "text"),
        "doc_id", "text").as[(Long, Long)].collect().toMap
      docs.forall { case (i, _) => sigs(i) == sigs(i + 1000L) }
    }

  property("statistics are invariant to input row order") =
    forAll(Gen.listOfN(20, Gen.choose(1, 1000))) { xs =>
      val rows = xs.zipWithIndex.map { case (v, i) => ("K", i, v.toDouble) }
      def stats(seq: Seq[(String, Int, Double)]) =
        graft.analytics.TimeSeries.returns(
            seq.toDF("symbol", "ts", "close"), "symbol", "ts", "close")
          .agg(sum(col("ret")), stddev_samp(col("ret"))).collect().head.toSeq
      stats(rows) == stats(rows.reverse)
    }

  private val genChangelog: Gen[List[(Int, Long, Long, String)]] =
    Gen.listOfN(16, for {
      k <- Gen.choose(1, 4)
      ts <- Gen.choose(1L, 20L)
      attr <- Gen.oneOf("a", "b", "c")
    } yield (k, ts, attr)).map(_.zipWithIndex.map { case ((k, ts, a), i) =>
      (k, ts, i.toLong, a) // unique ord per row — the total-order tiebreak
    })

  property("scd2: merge of an append-style batch equals one-shot historize") =
    forAll(genChangelog, Gen.choose(1L, 20L)) { (log, cutTs) =>
      // the exactness contract: batch rows strictly after each key's
      // prior changes (the CDC feed shape) — split the log at a ts
      // boundary so no key has interleaved before/batch changes
      val (before, batch) = log.partition(_._2 <= cutTs)
      val cols = Seq("k", "ts", "ord", "attr")
      val full = graft.ops.Scd.historize(
          log.toDF(cols: _*), Seq("k"), "ts", "ord", Seq("attr"))
        .collect().map(_.toSeq).toSet
      val incr =
        if (before.isEmpty)
          graft.ops.Scd.historize(
            batch.toDF(cols: _*), Seq("k"), "ts", "ord", Seq("attr"))
            .collect().map(_.toSeq).toSet
        else if (batch.isEmpty) full
        else graft.ops.Scd.merge(
          graft.ops.Scd.historize(
            before.toDF(cols: _*), Seq("k"), "ts", "ord", Seq("attr")),
          batch.toDF(cols: _*), Seq("k"), "ts", "ord", Seq("attr"))
          .collect().map(_.toSeq).toSet
      incr == full
    }

  property("prefix scan: distributed cumsum equals the sequential scan") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 50L))) { ws =>
      val rows = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val got = graft.ops.PrefixScan.exclusiveCumSum(
          rows.toDF("id", "w").repartition(7),
          Seq(col("id").asc), col("w"), partitions = 5)
        .select(col("id"), col("__prefix"))
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
      val exp = rows.map(_._2).scanLeft(0L)(_ + _).init
      got == exp
    }

  property("containment dominates jaccard; both bounded in (0, 1]") =
    forAll(genDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val c = graft.pipeline.Dedup.containmentPairs(
          df, "doc_id", "text", n = 2, minContainment = 0.0)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, v) => (a, b) -> v }.toMap
      val j = graft.pipeline.Dedup.ngramJaccardPairs(
          df, "doc_id", "text", n = 2, minJaccard = 0.0)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, v) => (a, b) -> v }.toMap
      // same candidate pairs (same index), C ≥ J on each (the min
      // denominator never exceeds the union), both in (0, 1]
      c.keySet == j.keySet &&
        c.forall { case (k, cv) =>
          cv >= j(k) - 1e-12 && cv > 0.0 && cv <= 1.0 + 1e-12 }
    }

  property("sq8: dequantization error within maxAbs/254 per component") =
    forAll(Gen.listOfN(4, Gen.listOfN(6,
        Gen.choose(-1000, 1000).map(_ / 37.0)))) { vecs =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
        .toDF("vec_id", "embedding")
      val rows = graft.pipeline.Sq.quantize(df, "vec_id", "embedding")
        .select(col("vec_id"), col("sq_scale"), col("sq_codes"))
        .as[(Long, Double, Seq[Byte])].collect()
      rows.forall { case (i, scale, codes) =>
        val v = vecs(i.toInt)
        val maxAbs = v.map(math.abs).max
        if (maxAbs == 0.0) scale == 0.0 && codes.forall(_ == 0)
        else codes.zip(v).forall { case (c, x) =>
          // float32 ingest adds ≤ 2^-24 relative error on top of the
          // int8 rounding bound maxAbs/254
          math.abs(c / scale - x) <= maxAbs / 254.0 + maxAbs * 1e-6
        }
      }
    }

  property("as-of directions match the brute-force reference") =
    forAll(for {
      qs0 <- Gen.listOfN(10, Gen.zip(Gen.oneOf("A", "B"),
        Gen.choose(1L, 30L), Gen.choose(1, 99).map(_.toDouble)))
      es <- Gen.listOfN(6, Gen.zip(Gen.oneOf("A", "B", "C"),
        Gen.choose(1L, 30L)))
    } yield (qs0, es)) { case (qs0, es0) =>
      // unique (k, qts) on the right so the reference needs no tie rule
      val qs = qs0.groupBy(q => (q._1, q._2)).map(_._2.maxBy(_._3)).toList
      val es = es0.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
      val qDf = qs.toDF("k", "qts", "px")
      val eDf = es.toDF("k", "ets", "idx")
      def expect(k: String, ets: Long, dir: String): Option[Double] = {
        val mine = qs.filter(_._1 == k)
        val bw = mine.filter(_._2 <= ets).sortBy(_._2).lastOption
        val fw = mine.filter(_._2 >= ets).sortBy(_._2).headOption
        dir match {
          case "backward" => bw.map(_._3)
          case "forward" => fw.map(_._3)
          case "nearest" => (bw, fw) match {
            case (Some(b), Some(f)) =>
              Some(if (f._2 - ets < ets - b._2) f._3 else b._3)
            case _ => bw.orElse(fw).map(_._3)
          }
        }
      }
      Seq("backward", "forward", "nearest").forall { dir =>
        val got = graft.ops.AsOf.join(eDf, qDf, Seq("k"), "ets", "qts",
            Seq("px"), direction = dir)
          .select($"idx", $"px").as[(Long, Option[Double])]
          .collect().toMap
        es.forall { case (k, ets, i) => got(i) == expect(k, ets, dir) }
      }
    }

  property("pageRank: mass conserved and strictly positive at any iteration count") =
    forAll(for {
      n <- Gen.choose(2, 6)
      iters <- Gen.choose(0, 3)
      // b = a + a nonzero offset mod n + 1: every a != b pair over
      // nodes 0..n, with no filter (a filter inside the list generator
      // discards whole samples and can make ScalaCheck give up)
      edges <- Gen.nonEmptyListOf(for {
        a <- Gen.choose(0L, n.toLong)
        off <- Gen.choose(1L, n.toLong)
      } yield {
        val b = (a + off) % (n + 1)
        (math.min(a, b), math.max(a, b))
      })
    } yield (edges.distinct, iters)) { case (edges, iters) =>
      val pr = graft.analytics.Graph.pageRank(
          edges.toDF("u1", "u2"), "u1", "u2", iters = iters)
        .as[(Long, Double)].collect()
      math.abs(pr.map(_._2).sum - 1.0) < 1e-9 && pr.forall(_._2 > 0.0)
    }
}
