package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // 100×100 uniform grid: x = i % 100, y = i / 100 — every cell filled,
  // so pruning effectiveness is geometry, not data luck
  private lazy val grid = spark.range(0, 10000)
    .select($"id", ($"id" % 100).as("x"), ($"id" / 100).cast("long").as("y"))

  test("interleaveBits: hand-checked Morton codes") {
    val got = spark.range(1)
      .select(
        ZOrder.interleaveBits(lit(0L), lit(0L), 8),
        ZOrder.interleaveBits(lit(1L), lit(0L), 8),  // x bit 0 → z bit 0
        ZOrder.interleaveBits(lit(0L), lit(1L), 8),  // y bit 0 → z bit 1
        ZOrder.interleaveBits(lit(3L), lit(5L), 8),  // 0b011 ⋈ 0b101
        ZOrder.interleaveBits(lit(255L), lit(255L), 8))
      .as[(Long, Long, Long, Long, Long)].head()
    // 3 = 011, 5 = 101 → z = b5 a5 b4 a4 … = 1 0 0 1 1 1 = 0b100111 = 39
    assert(got == ((0L, 1L, 2L, 39L, 65535L)))
  }

  test("z-ordered reads equal the plain filter on either or both dims") {
    val dir = scratchDir("graft_zorder") + "/t"
    ZOrder.write(grid, dir, "x", "y", filesTarget = 16)
    def expect(p: org.apache.spark.sql.Column) =
      grid.filter(p).select($"id").as[Long].collect().toSet
    val both = ZOrder.read(spark, dir, "x", "y",
        c1Range = Some((lit(10L), lit(19L))),
        c2Range = Some((lit(30L), lit(39L))))
      .select($"id").as[Long].collect().toSet
    assert(both == expect($"x".between(10, 19) && $"y".between(30, 39)))
    val xOnly = ZOrder.read(spark, dir, "x", "y",
        c1Range = Some((lit(97L), lit(99L))))
      .select($"id").as[Long].collect().toSet
    assert(xOnly == expect($"x".between(97, 99)))
    val yOnly = ZOrder.read(spark, dir, "x", "y",
        c2Range = Some((lit(0L), lit(2L))))
      .select($"id").as[Long].collect().toSet
    assert(yOnly == expect($"y".between(0, 2)))
    // a range outside the data reads no files, keeps the schema
    val none = ZOrder.read(spark, dir, "x", "y",
      c1Range = Some((lit(1000L), lit(2000L))))
    assert(none.count() == 0 && none.columns.contains("y"))
  }

  test("equi-depth binning keeps dense-region skipping under heavy skew") {
    // 99% of x lives in [0, 100); 1% is a 1e9-scale tail. Uniform bins
    // collapse the dense region into bin 0 — every dense-region range
    // query then overlaps every dense file — while equi-depth bins
    // spend the budget where the data is.
    val skew = spark.range(0, 10000).select($"id",
      when($"id" % 100 =!= 99, $"id" % 100)
        .otherwise(lit(1000000000L) + $"id").cast("long").as("x"),
      ($"id" / 100).cast("long").as("y"))
    val uDir = scratchDir("graft_zskew_u") + "/t"
    val qDir = scratchDir("graft_zskew_q") + "/t"
    ZOrder.write(skew, uDir, "x", "y", filesTarget = 16, equiDepth = false)
    ZOrder.write(skew, qDir, "x", "y", filesTarget = 16)
    val xSlice = Some((lit(10L), lit(19L))) // 10% of the dense region
    val uPruned = ZOrder.pruneZones(spark, uDir, xSlice, None).count()
    val uTotal = ZOrder.manifest(spark, uDir).count()
    val qPruned = ZOrder.pruneZones(spark, qDir, xSlice, None).count()
    val qTotal = ZOrder.manifest(spark, qDir).count()
    info(s"uniform: $uPruned/$uTotal files; equi-depth: $qPruned/$qTotal")
    assert(qPruned <= qTotal / 2,
      s"equi-depth x-slice touched $qPruned of $qTotal files")
    assert(qPruned.toDouble / qTotal < uPruned.toDouble / uTotal,
      "equi-depth must out-prune uniform binning under skew")
    // correctness is binning-agnostic
    val got = ZOrder.read(spark, qDir, "x", "y", c1Range = xSlice)
      .select($"id").as[Long].collect().toSet
    assert(got == skew.filter($"x".between(10, 19))
      .select($"id").as[Long].collect().toSet)
  }

  test("file skipping works on BOTH dimensions — the property a linear sort lacks") {
    val dir = scratchDir("graft_zorder_skip") + "/t"
    ZOrder.write(grid, dir, "x", "y", filesTarget = 16)
    val total = ZOrder.manifest(spark, dir).count()
    assert(total >= 8) // enough files for skipping to be meaningful
    // a 10%-wide slice in EITHER dimension must prune over half the
    // files (a (x,y)-sorted layout prunes only the leading column)
    val xPruned = ZOrder.pruneZones(spark, dir,
      Some((lit(10L), lit(19L))), None).count()
    val yPruned = ZOrder.pruneZones(spark, dir,
      None, Some((lit(30L), lit(39L)))).count()
    assert(xPruned <= total / 2, s"x-slice touched $xPruned of $total files")
    assert(yPruned <= total / 2, s"y-slice touched $yPruned of $total files")
    // and the 2-D intersection prunes at least as hard as either axis
    val bothPruned = ZOrder.pruneZones(spark, dir,
      Some((lit(10L), lit(19L))), Some((lit(30L), lit(39L)))).count()
    assert(bothPruned <= math.min(xPruned, yPruned))
  }

  test("interleaveBitsN: hand-checked 3-D Morton codes") {
    val got = spark.range(1)
      .select(
        ZOrder.interleaveBitsN(Seq(lit(1L), lit(0L), lit(0L)), 8),
        ZOrder.interleaveBitsN(Seq(lit(0L), lit(1L), lit(0L)), 8),
        ZOrder.interleaveBitsN(Seq(lit(0L), lit(0L), lit(1L)), 8),
        ZOrder.interleaveBitsN(Seq(lit(3L), lit(5L), lit(1L)), 8))
      .as[(Long, Long, Long, Long)].head()
    // bit i of col j → position 3i + j:
    // x=0b011 → z bits 0,3 = 9; y=0b101 → z bits 1,7 = 130;
    // w=0b001 → z bit 2 = 4 → 143
    assert(got == ((1L, 2L, 4L, 143L)))
  }

  test("3-D z-order: ANY single axis prunes files; reads equal the plain filter") {
    // 32×32×10 cube, every cell filled — the (tenant, time, key) shape
    val cube = spark.range(0, 10240).select($"id",
      ($"id" % 32).as("x"),
      (($"id" / 32) % 32).cast("long").as("y"),
      ($"id" / 1024).cast("long").as("w"))
    val dir = scratchDir("graft_zorder3") + "/t"
    ZOrder.writeN(cube, dir, Seq("x", "y", "w"), filesTarget = 16)
    val total = ZOrder.manifest(spark, dir).count()
    assert(total >= 8)
    def expect(p: org.apache.spark.sql.Column) =
      cube.filter(p).select($"id").as[Long].collect().toSet
    // all three axes constrained at once
    val all = ZOrder.readN(spark, dir, Seq("x", "y", "w"),
        Seq(Some((lit(4L), lit(7L))), Some((lit(8L), lit(15L))),
          Some((lit(2L), lit(5L)))))
      .select($"id").as[Long].collect().toSet
    assert(all == expect($"x".between(4, 7) && $"y".between(8, 15) &&
      $"w".between(2, 5)))
    // each axis ALONE prunes files and stays exact — a linear
    // (x, y, w) sort gives this for x only
    val axes = Seq(
      (Seq(Some((lit(0L), lit(3L))), None, None), $"x".between(0, 3)),
      (Seq(None, Some((lit(0L), lit(3L))), None), $"y".between(0, 3)),
      (Seq(None, None, Some((lit(0L), lit(1L)))), $"w".between(0, 1)))
    for (((ranges, pred), i) <- axes.zipWithIndex) {
      val kept = ZOrder.pruneZonesN(spark, dir, ranges).count()
      info(s"axis $i: $kept/$total files")
      assert(kept < total, s"axis $i pruned nothing ($kept of $total)")
      val got = ZOrder.readN(spark, dir, Seq("x", "y", "w"), ranges)
        .select($"id").as[Long].collect().toSet
      assert(got == expect(pred), s"axis $i result mismatch")
    }
    // 2-D API unchanged: it is the n = 2 case of the same kernel
    val two = ZOrder.read(spark, dir, "x", "y",
      c1Range = Some((lit(0L), lit(3L)))) // works on the 3-D manifest
    assert(two.select($"id").as[Long].collect().toSet ==
      expect($"x".between(0, 3)))
  }
}
