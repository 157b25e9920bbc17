package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.functions.{FloatBits, dotProduct, squaredL2, vectorNormSq}
import graft.index.{Metric, StorageType, VectorIndexFlat}

/** Differential tests vs the in-process scalar oracle — the role CPU FAISS
  * plays for the reference (`/root/reference/tests/test_metal_flat.mm`).
  * Case grid from FIXTURES.md §A. Because graft defines the (dist, id)
  * total order on BOTH sides, label sequences match exactly (stronger than
  * the reference's top-1-only assert).
  */
class VectorIndexFlatSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def runSearch(idx: VectorIndexFlat, qs: Array[Array[Float]], k: Int)
      : Map[Long, Seq[(Long, Double)]] =
    idx.search(Oracle.queriesDf(spark, qs), k)
      .orderBy("qid", "rank")
      .collect()
      .toSeq
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.map(r => (r.getLong(2), r.getFloat(3).toDouble))
      }

  private def checkCase(nv: Int, nq: Int, d: Int, k: Int, ip: Boolean,
                        relTol: Double = 1e-5): Unit = {
    val vecs = Oracle.genVectors(nv, d)
    val qs = Oracle.genVectors(nq, d, seed = 4242)
    val metric = if (ip) Metric.InnerProduct else Metric.L2
    val idx = VectorIndexFlat(spark, d, metric)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, k)
    val want = Oracle.bruteForceKnn(vecs, qs, k, ip)
    for (qid <- 0 until nq) {
      val g = got(qid.toLong)
      val w = want(qid)
      assert(g.map(_._1) === w.map(_._1).toSeq, s"labels, qid=$qid")
      g.zip(w).foreach { case ((_, gd), (_, wd)) =>
        val denom = math.max(math.abs(wd), 1e-6)
        assert(math.abs(gd - wd) / denom <= relTol, s"dist qid=$qid: $gd vs $wd")
      }
    }
    idx.reset()
  }

  test("l2-32d (1000,10,32,5)") { checkCase(1000, 10, 32, 5, ip = false) }
  test("l2-128d (1000,10,128,10)") { checkCase(1000, 10, 128, 10, ip = false) }
  test("l2-768d (500,5,768,5)") { checkCase(500, 5, 768, 5, ip = false) }
  test("l2-1536d (500,5,1536,5)") { checkCase(500, 5, 1536, 5, ip = false) }
  test("ip-128d (1000,10,128,10)") { checkCase(1000, 10, 128, 10, ip = true, relTol = 1e-4) }
  test("edge-single (100,1,32,1)") { checkCase(100, 1, 32, 1, ip = false) }

  test("f16 storage: labels match oracle computed on dequantized vectors") {
    val d = 128
    val vecs = Oracle.genVectors(1000, d)
    val qs = Oracle.genVectors(10, d, seed = 4242)
    val deq = vecs.map(_.map(f => FloatBits.halfBitsToFloat(FloatBits.floatToHalfBits(f))))
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float16)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 10)
    val want = Oracle.bruteForceKnn(deq, qs, 10, innerProduct = false)
    for (qid <- 0 until 10) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // distances within 5e-2 rel of the fp32 oracle (ref tolerance for f16)
    val wantFp32 = Oracle.bruteForceKnn(vecs, qs, 10, innerProduct = false)
    for (qid <- 0 until 10) {
      got(qid.toLong).zip(wantFp32(qid)).foreach { case ((_, gd), (_, wd)) =>
        assert(math.abs(gd - wd) / math.max(math.abs(wd), 1e-6) <= 5e-2)
      }
    }
  }

  test("bf16 storage: labels match oracle computed on bf16-dequantized vectors") {
    val d = 64
    val vecs = Oracle.genVectors(500, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    val deq = vecs.map(_.map(f => FloatBits.bf16BitsToFloat(FloatBits.floatToBf16Bits(f))))
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.BFloat16)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
  }

  test("int8 (SQ8) storage: labels match oracle on dequantized vectors; error bounded; serving parity") {
    val d = 64
    val vecs = Oracle.genVectors(500, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    // driver-side SQ8 reference: per-vector max-abs scale, round-half-up
    val deq = vecs.map { v =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      v.map(x => if (scale == 0.0) 0f
                 else (math.floor(x.toDouble / scale + 0.5) * scale).toFloat)
    }
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Int8)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // reconstruct error ≤ scale/2 + float-rounding slack per element
    val r7 = idx.reconstruct(7L)
    val scale7 = vecs(7).map(x => math.abs(x.toDouble)).max / 127.0
    r7.zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= scale7 / 2 + 1e-6, s"err ${math.abs(r - o)} scale $scale7")
    }
    // prepared serving handle ≡ fp64 point path on the quantized index
    val q = qs.head
    val viaPoint = idx.searchPoint(q, 5)
    val searcher = idx.pointSearcher(5)
    val prepared = searcher.search(q)
    assert(prepared.map(_._1).toSeq === viaPoint.map(_._1).toSeq)
    prepared.zip(viaPoint).foreach { case ((_, pd), (_, sd)) =>
      assert(math.abs(pd - sd) <= 1e-12 * math.max(1.0, math.abs(sd)))
    }
    searcher.close()
    idx.reset()
  }

  test("int4 (SQ4) storage: labels match oracle on dequantized vectors; odd d pad nibble; error bounded; serving parity") {
    val d = 33 // odd → the last stored byte carries a pad nibble
    val vecs = Oracle.genVectors(400, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    // driver-side SQ4 reference: 15-level symmetric grid, round-half-up
    val deq = vecs.map { v =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 7.0
      v.map(x => if (scale == 0.0) 0f
                 else (math.floor(x.toDouble / scale + 0.5) * scale).toFloat)
    }
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Int4)
    idx.add(vecs.toSeq)
    // stored payload really is nibble-packed: ⌈d/2⌉ bytes per row
    val storedBytes = idx.vectors.select(size(col("vecb"))).head.getInt(0)
    assert(storedBytes === (d + 1) / 2)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // reconstruct error ≤ scale/2 + float-rounding slack per element
    val r7 = idx.reconstruct(7L)
    val scale7 = vecs(7).map(x => math.abs(x.toDouble)).max / 7.0
    r7.zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= scale7 / 2 + 1e-6, s"err ${math.abs(r - o)} scale $scale7")
    }
    // prepared serving handle ≡ fp64 point path on the quantized index
    val q = qs.head
    val viaPoint = idx.searchPoint(q, 5)
    val searcher = idx.pointSearcher(5)
    val prepared = searcher.search(q)
    assert(prepared.map(_._1).toSeq === viaPoint.map(_._1).toSeq)
    prepared.zip(viaPoint).foreach { case ((_, pd), (_, sd)) =>
      assert(math.abs(pd - sd) <= 1e-12 * math.max(1.0, math.abs(sd)))
    }
    searcher.close()
    idx.reset()
  }

  test("fp8 (e4m3) storage: labels match oracle on roundtripped vectors; 1 byte/elem; error bounded; serving parity") {
    val d = 48
    val vecs = Oracle.genVectors(400, d)
    val qs = Oracle.genVectors(5, d, seed = 777)
    // driver-side reference: the REAL scalar codec defines the grid
    val deq = vecs.map(_.map(x => graft.functions.FloatBits.fp8E4m3ToFloat(
      graft.functions.FloatBits.floatToFp8E4m3Bits(x))))
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Fp8)
    idx.add(vecs.toSeq)
    // stored payload is one code byte per element — no per-row scale
    val cols = idx.vectors.columns.toSeq
    assert(cols === Seq("id", "vecb", "norm"))
    assert(idx.vectors.select(size(col("vecb"))).head.getInt(0) === d)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // e4m3 relative error ≤ 2⁻⁴ for normals (3 mantissa bits); the
    // fixture range [-1, 1] stays far from the subnormal floor
    val r7 = idx.reconstruct(7L)
    r7.zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= math.abs(o) / 16.0 + 1e-3,
        s"err ${math.abs(r - o)} at $o")
    }
    val q = qs.head
    val viaPoint = idx.searchPoint(q, 5)
    val searcher = idx.pointSearcher(5)
    val prepared = searcher.search(q)
    assert(prepared.map(_._1).toSeq === viaPoint.map(_._1).toSeq)
    prepared.zip(viaPoint).foreach { case ((_, pd), (_, sd)) =>
      assert(math.abs(pd - sd) <= 1e-12 * math.max(1.0, math.abs(sd)))
    }
    searcher.close()
    idx.reset()
  }

  test("edge-empty-index: all sentinels") {
    for (metric <- Seq(Metric.L2, Metric.InnerProduct)) {
      val idx = VectorIndexFlat(spark, 32, metric)
      val rows = idx.search(Oracle.queriesDf(spark, Oracle.genVectors(1, 32)), 5)
        .orderBy("qid", "rank").collect()
      assert(rows.length === 5)
      val sentinel =
        if (metric == Metric.L2) Float.PositiveInfinity else Float.NegativeInfinity
      rows.foreach { r =>
        assert(r.getLong(2) === -1L)
        assert(r.getFloat(3) === sentinel)
      }
    }
  }

  test("edge-k-gt-ntotal (3,2,8,5): 3 real + 2 sentinel ranks") {
    val vecs = Oracle.genVectors(3, 8)
    val qs = Oracle.genVectors(2, 8, seed = 4242)
    val idx = VectorIndexFlat(spark, 8, Metric.L2)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(vecs, qs, 5, innerProduct = false)
    for (qid <- 0 until 2) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq)
      assert(got(qid.toLong).drop(3).forall { case (l, dist) =>
        l == -1L && dist.isPosInfinity })
    }
  }

  test("edge-n0: zero queries → empty result") {
    val idx = VectorIndexFlat(spark, 32, Metric.L2)
    idx.add(Oracle.genVectors(10, 32).toSeq)
    assert(idx.search(Oracle.queriesDf(spark, Array.empty), 5).count() === 0)
  }

  test("k <= 0 throws") {
    val idx = VectorIndexFlat(spark, 8, Metric.L2)
    idx.add(Oracle.genVectors(5, 8).toSeq)
    intercept[IllegalArgumentException] {
      idx.search(Oracle.queriesDf(spark, Oracle.genVectors(1, 8)), 0)
    }
  }

  test("roundtrip: toParquet → fromParquet search identical (labels exact, dist ≤1e-5)") {
    val d = 128
    val vecs = Oracle.genVectors(500, d)
    val qs = Oracle.genVectors(10, d, seed = 4242)
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(vecs.toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString + "/idx"
    idx.toParquet(dir)
    val idx2 = VectorIndexFlat.fromParquet(spark, dir, d)
    assert(idx2.ntotal === 500)
    val a = runSearch(idx, qs, 5)
    val b = runSearch(idx2, qs, 5)
    for (qid <- 0 until 10) {
      assert(a(qid.toLong).map(_._1) === b(qid.toLong).map(_._1))
      a(qid.toLong).zip(b(qid.toLong)).foreach { case ((_, x), (_, y)) =>
        assert(math.abs(x - y) <= 1e-5)
      }
    }
  }

  test("reconstruct: fp32 bit-exact; f16 ≤ 2e-3 per element") {
    val vecs = Oracle.genVectors(10, 64)
    val idx = VectorIndexFlat(spark, 64, Metric.L2)
    idx.add(vecs.toSeq)
    assert(idx.reconstruct(3L).toSeq === vecs(3).toSeq) // bit-exact
    val f16 = VectorIndexFlat(spark, 64, Metric.L2, StorageType.Float16)
    f16.add(vecs.toSeq)
    f16.reconstruct(7L).zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= 2e-3f)
    }
    val bf16 = VectorIndexFlat(spark, 64, Metric.L2, StorageType.BFloat16)
    bf16.add(vecs.toSeq)
    bf16.reconstruct(2L).zip(vecs(2)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= math.max(math.abs(o) / 128f, 1e-4f))
    }
  }

  test("reset: ntotal 100 → 0 → 50, search works after re-add") {
    val idx = VectorIndexFlat(spark, 32, Metric.L2)
    idx.add(Oracle.genVectors(100, 32).toSeq)
    assert(idx.ntotal === 100)
    idx.reset()
    assert(idx.ntotal === 0)
    val vecs2 = Oracle.genVectors(50, 32, seed = 7)
    idx.add(vecs2.toSeq)
    assert(idx.ntotal === 50)
    val qs = Oracle.genVectors(2, 32, seed = 4242)
    val got = runSearch(idx, qs, 3)
    val want = Oracle.bruteForceKnn(vecs2, qs, 3, innerProduct = false)
    assert(got(0L).map(_._1) === want(0).map(_._1).toSeq)
  }

  test("incremental add: ids continue, results = single-shot index") {
    val d = 32
    val all = Oracle.genVectors(200, d)
    val qs = Oracle.genVectors(3, d, seed = 4242)
    val inc = VectorIndexFlat(spark, d, Metric.L2)
    inc.add(all.take(120).toSeq)
    inc.add(all.drop(120).toSeq)
    assert(inc.ntotal === 200)
    val got = runSearch(inc, qs, 5)
    val want = Oracle.bruteForceKnn(all, qs, 5, innerProduct = false)
    for (q <- 0 until 3) assert(got(q.toLong).map(_._1) === want(q).map(_._1).toSeq)
  }

  test("async ≡ sync, 3 concurrent tokens (ref async contract)") {
    val d = 64
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(Oracle.genVectors(500, d).toSeq)
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(10, d, seed = 4242))
    val sync = idx.search(qs, 10).orderBy("qid", "rank").collect()
    val tokens = (1 to 3).map(_ => idx.searchAsync(qs, 10))
    tokens.foreach { t =>
      assert(t.result() === sync) // bit-exact, matching tests/test_metal_flat.mm:341-344
    }
  }

  test("physical paths agree EXACTLY: fused KnnPartialExec vs declarative cross-join+agg") {
    // the analog of the reference's forced-MPS vs default-path test
    // (tests/test_metal_flat.mm:270-307) — ours is bit-exact because both
    // paths share the same fp64 loop and total order. 600 vectors sit in one
    // partition, so nq = 1100, k = 100 splits into several query blocks;
    // nq = 7 leaves a remainder beside the four-query passes
    val d = 16
    val blocks = graft.plans.Knn.queryBlocks(1, 1100, 100, spark.sparkContext.defaultParallelism)
    assert(blocks > 1)
    for {
      metric <- Seq(Metric.L2, Metric.InnerProduct)
      storage <- Seq(StorageType.Float32, StorageType.Float16, StorageType.BFloat16)
    } {
      val idx = VectorIndexFlat(spark, d, metric, storage)
      idx.add(Oracle.genVectors(600, d, seed = 9).toSeq)
      assert(idx.vectors.rdd.getNumPartitions === 1)
      for ((nq, k) <- Seq((7, 5), (1100, 100))) {
        val qs = Oracle.queriesDf(spark, Oracle.genVectors(nq, d, seed = 4242))
        val fusedDf = idx.search(qs, k)
        val fused = fusedDf.orderBy("qid", "rank").collect()
        val plan = fusedDf.queryExecution.executedPlan.toString
        assert(plan.contains("KnnPartial"), s"$metric/$storage nq=$nq: expected fused in\n$plan")
        if (nq == 1100) assert(plan.contains(s"qBlocks=$blocks"), plan)
        val declarative = idx.search(qs, k, forceDeclarative = true)
          .orderBy("qid", "rank").collect()
        assert(fused.length === nq * k)
        assert(fused === declarative, s"$metric/$storage nq=$nq k=$k")
      }
      idx.reset()
    }
  }

  test("search rejects queries whose dimension differs from the index's, on both paths") {
    val d = 8
    val fused = VectorIndexFlat(spark, d)
    fused.add(Oracle.genVectors(300, d).toSeq)
    val tiny = VectorIndexFlat(spark, d) // 10 < 4·k vectors: declarative
    tiny.add(Oracle.genVectors(10, d).toSeq)
    for (idx <- Seq(fused, tiny); qd <- Seq(d - 1, d + 1)) {
      val qs = Oracle.genVectors(3, d, seed = 5) :+ Oracle.genVectors(1, qd, seed = 6).head
      val e = intercept[IllegalArgumentException] {
        idx.search(Oracle.queriesDf(spark, qs), 5)
      }
      assert(e.getMessage.contains("VectorIndexFlat.search"), e.getMessage)
      assert(e.getMessage.contains(s"dimension $qd"), e.getMessage)
    }
    fused.reset(); tiny.reset()
  }

  test("cost-model gate: fused vs declarative chosen per (nq, ntotal, k) regime") {
    import graft.index.VectorIndexFlat.{maxCollectedQueries, useFusedPath}
    // serving regime: small batch over a big index → fused
    assert(useFusedPath(nq = 8, d = 128, nv = 1000000L, k = 10))
    // large query batches and large per-batch top-k state are tiled into
    // query blocks, not refused → fused
    assert(useFusedPath(nq = 2000, d = 128, nv = 1000000L, k = 10))
    assert(useFusedPath(nq = 1024, d = 128, nv = 1000000L, k = 8192))
    // a batch beyond the collected-bytes bound → declarative
    assert(!useFusedPath(nq = maxCollectedQueries(128) + 1, d = 128, nv = 1000000L, k = 10))
    // tiny index: pre-selection cannot drop anything → declarative
    assert(!useFusedPath(nq = 8, d = 128, nv = 30L, k = 10))
    // the physical plans actually chosen match the model
    val d = 16
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(2, d, seed = 5))
    val big = VectorIndexFlat(spark, d)
    big.add(Oracle.genVectors(500, d).toSeq)
    val bigRes = big.search(qs, 5)
    bigRes.collect()
    assert(bigRes.queryExecution.executedPlan.toString.contains("KnnPartial"))
    val tiny = VectorIndexFlat(spark, d)
    tiny.add(Oracle.genVectors(10, d).toSeq)
    val tinyRes = tiny.search(qs, 5)
    tinyRes.collect()
    assert(!tinyRes.queryExecution.executedPlan.toString.contains("KnnPartial"))
    // and results are path-independent in every regime
    assert(tiny.search(qs, 5).orderBy("qid", "rank").collect() ===
      tiny.search(qs, 5, forceDeclarative = true).orderBy("qid", "rank").collect())
    big.reset(); tiny.reset()
  }

  test("searchPoint ≡ search with one query; sentinel padding; empty index") {
    val d = 32
    val vecs = Oracle.genVectors(400, d)
    val q = Oracle.genVectors(1, d, seed = 77).head
    val idx = VectorIndexFlat(spark, d)
    idx.add(vecs.toSeq)
    val viaBatch = runSearch(idx, Array(q), 7)(0L)
    val point = idx.searchPoint(q, 7)
    assert(point.map(_._1).toSeq === viaBatch.map(_._1))
    point.zip(viaBatch).foreach { case ((_, pd), (_, bd)) =>
      assert(math.abs(pd - bd) <= 1e-5 * math.max(1.0, math.abs(bd)))
    }
    // k > ntotal pads with sentinels
    val small = VectorIndexFlat(spark, d)
    small.add(vecs.take(3).toSeq)
    val padded = small.searchPoint(q, 5)
    assert(padded.length === 5)
    assert(padded.drop(3).forall(p => p._1 == -1L && p._2.isPosInfinity))
    // empty index → all sentinels
    val empty = VectorIndexFlat(spark, d)
    assert(empty.searchPoint(q, 3).forall(p => p._1 == -1L && p._2.isPosInfinity))
    // prepared serving handle returns the same rows as the ad-hoc point path
    val searcher = idx.pointSearcher(7)
    val prepared = searcher.search(q)
    assert(prepared.map(_._1).toSeq === point.map(_._1).toSeq)
    prepared.zip(point).foreach { case ((_, pd), (_, sd)) =>
      assert(math.abs(pd - sd) <= 1e-12 * math.max(1.0, math.abs(sd)))
    }
    searcher.close()
    idx.reset(); small.reset()
  }

  test("16-bit pointSearcher: packs raw shorts, equals batch search; lost blocks re-prepare") {
    val d = 48
    val vecs = Oracle.genVectors(400, d)
    val q = Oracle.genVectors(1, d, seed = 777).head
    for (storage <- Seq(StorageType.Float16, StorageType.BFloat16)) {
      val idx = VectorIndexFlat(spark, d, Metric.L2, storage)
      idx.add(vecs.toSeq)
      // searchPoint is the fp64 reference path (batch `search` rounds its
      // dist column to fp32 on output, so it can't anchor a 1e-12 check)
      val viaBatch = idx.searchPoint(q, 9)
      val searcher = idx.pointSearcher(9)
      val prepared = searcher.search(q)
      assert(prepared.map(_._1).toSeq === viaBatch.map(_._1).toSeq, s"$storage labels")
      prepared.zip(viaBatch).foreach { case ((_, pd), (_, bd)) =>
        assert(math.abs(pd - bd) <= 1e-12 * math.max(1.0, math.abs(bd)), s"$storage dist")
      }
      // simulate executor loss: drop the non-reliable localCheckpoint
      // blocks out from under the handle — search must rebuild the
      // snapshot from the index lineage and still answer correctly
      searcher.packed.unpersist(blocking = true)
      val recovered = searcher.search(q)
      assert(recovered.map(_._1).toSeq === viaBatch.map(_._1).toSeq, s"$storage recovery")
      searcher.close()
      // a closed searcher must refuse, not silently re-prepare (which would
      // resurrect cached blocks the caller just released)
      intercept[IllegalStateException] { searcher.search(q) }
      idx.reset()
    }
  }

  test("dual-path: direct ‖q−v‖² vs decomposed ‖q‖²+‖v‖²−2⟨q,v⟩ agree ≤5e-2 rel") {
    val d = 64
    val vecs = Oracle.genVectors(50, d)
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(5, d, seed = 4242))
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(vecs.toSeq)
    val joined = idx.vectors.crossJoin(broadcast(qs))
    val direct = joined.select(col("qid"), col("id"),
      squaredL2(col("vec"), col("qvec")).as("dist"))
    val decomposed = joined.select(col("qid"), col("id"),
      (col("norm") + vectorNormSq(col("qvec"))
        - lit(2.0) * dotProduct(col("vec"), col("qvec"))).as("dist"))
    val dm = direct.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    decomposed.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val dd = r.getDouble(2)
      assert(math.abs(dd - dm(key)) / math.max(math.abs(dm(key)), 1e-3) <= 5e-2,
        s"pair $key: decomposed=$dd direct=${dm(key)}")
    }
  }
}
