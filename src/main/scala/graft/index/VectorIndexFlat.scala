package graft.index

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** Metric of the flat index: squared L2 (min-k) or inner product (max-k).
  * Mirrors `faiss::MetricType` as used by the reference
  * (`/root/reference/include/faiss-metal/MetalIndexFlat.h:51-57`).
  */
sealed trait Metric { def ascending: Boolean; def sentinel: Double }
object Metric {
  case object L2 extends Metric {
    val ascending = true; val sentinel = Double.PositiveInfinity
  }
  case object InnerProduct extends Metric {
    val ascending = false; val sentinel = Double.NegativeInfinity
  }
}

/** Vector storage precision (`MetalIndexFlat.h:39-43`): fp32, IEEE half,
  * or bfloat16. Reduced-precision indexes store only the 16-bit bits
  * column (half the bytes at rest and in memory — the Spark analog of the
  * reference's bandwidth win) plus the fp32-accurate norm.
  *
  * `Int8` extends the family with SQ8 scalar quantization (per-vector
  * max-abs scale + one signed byte per element — the FAISS
  * `IndexScalarQuantizer(QT_8bit)` family, which the Metal reference does
  * not implement): 4× fewer stored bytes than fp32. Search paths consume
  * the codegen'd `DequantizeVectorInt8` projection inside the scan stage.
  */
sealed trait StorageType
object StorageType {
  case object Float32 extends StorageType
  case object Float16 extends StorageType
  case object BFloat16 extends StorageType
  case object Int8 extends StorageType
  case object Int4 extends StorageType
  case object Fp8 extends StorageType
}

/** Async search handle — the Spark analog of `MetalSearchToken`
  * (`/root/reference/include/faiss-metal/MetalIndexFlat.h:13-36`): the
  * search job runs on a separate thread; `result()` blocks and returns
  * rows identical to the synchronous path (the reference's async≡sync
  * contract, `tests/test_metal_flat.mm:341-344`).
  */
final class SearchToken private[index] (fut: Future[Array[Row]]) {
  def isReady: Boolean = fut.isCompleted
  def result(): Array[Row] = Await.result(fut, Duration.Inf)
}

/** Spark-native flat (brute-force, exact) vector index.
  *
  * Reference-parity surface for `MetalIndexFlat`
  * (`/root/reference/src/MetalIndexFlat.mm`): append-only `add`, `reset`,
  * `reconstruct`, sync + async `search` with the exact sentinel/clamp
  * semantics of `mm:313-400`:
  *   - `k <= 0` throws;
  *   - empty index → every slot (label −1, dist +Inf for L2 / −Inf for IP);
  *   - `k > ntotal` → clamp to ntotal, pad the tail with sentinels;
  *   - L2 distances are squared (no sqrt).
  *
  * Physical shape (designed for the 100 TB side being `vectors`):
  * queries are broadcast; each vector partition computes distances and a
  * k-bounded partial top-k map-side (ObjectHashAggregate); only k-row
  * buffers shuffle by qid. This is the same shape as the reference's fused
  * distance+top-k kernel (`shaders/fused_l2_topk.metal` — partial
  * selection per chunk, then merge) and never materializes the nq×nv
  * distance matrix.
  *
  * Ordering is the deterministic total order (dist, id) — see SURVEY.md §5
  * for why the reference's tie order is not reproducible.
  */
final class VectorIndexFlat private (
    val spark: SparkSession,
    val d: Int,
    val metric: Metric,
    val storage: StorageType) {

  import VectorIndexFlat._

  private var data: DataFrame = emptyData(spark, storage)
  private var cachedNtotal: Long = 0L

  def ntotal: Long = cachedNtotal

  /** The backing DataFrame: (id, vec | vech, norm). */
  def vectors: DataFrame = data

  /** Append vectors in insertion order; ids are assigned 0-based
    * contiguously (ref `add`, `mm:185-311`). Norms are always computed
    * from the fp32 input even for reduced-precision storage (`mm:258-268`).
    */
  def add(vecs: Seq[Array[Float]]): this.type = {
    require(vecs.forall(_.length == d), s"all vectors must have dimension $d")
    val base = cachedNtotal
    val rows = vecs.zipWithIndex.map { case (v, i) => Row(base + i, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, vecs.size / 4096)),
      rawSchema)
    appendDf(df, vecs.size.toLong)
  }

  /** Append an existing (id-less) DataFrame with a `vec: array<float>`
    * column; ids continue from the current ntotal in partition order.
    */
  def add(df: DataFrame): this.type = {
    val base = cachedNtotal
    // cache the input once: zipWithIndex's internal partition-size job,
    // the count, and the union materialization all read the same blocks
    // instead of rescanning the source three times
    val src = df.select(col("vec")).rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withIds = src.zipWithIndex().map {
      case (r, i) => Row(base + i, r.getSeq[Float](0).toArray)
    }
    val n = src.count()
    try appendDf(spark.createDataFrame(withIds, rawSchema), n)
    finally src.unpersist(blocking = false)
    this
  }

  private def appendDf(raw: DataFrame, n: Long): this.type = {
    // dimension check on the distributed path too (the Seq overload
    // validates eagerly; here it costs one cheap agg over cached blocks)
    val badDims = raw.filter(size(col("vec")) =!= d).count()
    require(badDims == 0L,
      s"all vectors must have dimension $d ($badDims rows differ)")
    val prepared = prepare(raw)
    val old = data
    data = old.unionByName(prepared).persist(StorageLevel.MEMORY_AND_DISK)
    data.count() // materialize before dropping the old lineage
    old.unpersist()
    cachedNtotal += n
    this
  }

  /** norm from fp32, then (for reduced precision) quantize and DROP fp32. */
  private def prepare(raw: DataFrame): DataFrame = storage match {
    case StorageType.Float32 =>
      raw.select(col("id"), col("vec"), vectorNormSq(col("vec")).as("norm"))
    case StorageType.Float16 =>
      raw.select(col("id"), quantizeF16(col("vec")).as("vech"),
        vectorNormSq(col("vec")).as("norm"))
    case StorageType.BFloat16 =>
      raw.select(col("id"), quantizeBf16(col("vec")).as("vech"),
        vectorNormSq(col("vec")).as("norm"))
    case StorageType.Int8 =>
      raw.select(col("id"), quantizeInt8(col("vec")).as("q"),
          vectorNormSq(col("vec")).as("norm"))
        .select(col("id"), col("q.codes").as("vecb"),
          col("q.scale").as("scale"), col("norm"))
    case StorageType.Int4 =>
      // nibble-packed: ⌈d/2⌉ stored bytes — 8× fewer scanned bytes than
      // fp32; the element count is the index's fixed `d`, so only codes
      // and scale are persisted
      raw.select(col("id"), quantizeInt4(col("vec")).as("q"),
          vectorNormSq(col("vec")).as("norm"))
        .select(col("id"), col("q.codes").as("vecb"),
          col("q.scale").as("scale"), col("norm"))
    case StorageType.Fp8 =>
      // e4m3: one code byte per element, per-ELEMENT exponent — no
      // per-vector scale state to persist (unlike SQ8/SQ4)
      raw.select(col("id"), quantizeFp8(col("vec")).as("vecb"),
        vectorNormSq(col("vec")).as("norm"))
  }

  /** fp32 view of the stored vectors (dequantized when 16-bit). */
  private def decoded: DataFrame = storage match {
    case StorageType.Float32  => data
    case StorageType.Float16  =>
      data.select(col("id"), dequantizeF16(col("vech")).as("vec"), col("norm"))
    case StorageType.BFloat16 =>
      data.select(col("id"), dequantizeBf16(col("vech")).as("vec"), col("norm"))
    case StorageType.Int8 =>
      data.select(col("id"),
        dequantizeInt8(col("vecb"), col("scale")).as("vec"), col("norm"))
    case StorageType.Int4 =>
      data.select(col("id"),
        dequantizeInt4(col("vecb"), col("scale"), lit(d)).as("vec"), col("norm"))
    case StorageType.Fp8 =>
      data.select(col("id"), dequantizeFp8(col("vecb")).as("vec"), col("norm"))
  }

  /** Drop everything (ref `reset`, `mm:492-506`). */
  def reset(): this.type = {
    data.unpersist()
    data = emptyData(spark, storage)
    cachedNtotal = 0L
    this
  }

  /** Point lookup + dequantize (ref `reconstruct`, `mm:508-527`).
    * Bit-exact for fp32 storage.
    */
  def reconstruct(key: Long): Array[Float] = {
    val rows = decoded.filter(col("id") === key).select("vec").collect()
    require(rows.nonEmpty, s"reconstruct: id $key not present (ntotal=$cachedNtotal)")
    rows.head.getSeq[Float](0).toArray
  }

  /** k-nearest-neighbor search.
    *
    * The query batch is collected to the driver (one probe, bounded by
    * `maxFusedQueryBytes`) and every query must have dimension `d`.
    * Physical path selection (the analog of the reference's fused-kernel
    * gate, `src/MetalDistance.mm:341-363`, see [[VectorIndexFlat.useFusedPath]]):
    * a batch within the byte bound runs the fused [[graft.plans.KnnPartialExec]]
    * — distance + bounded top-k in one blocked loop per (vector partition,
    * query block) tile, shuffling ≤ nq·k rows per vector partition and
    * never materializing a (pair) row per (q, v). A larger batch, or an
    * index too small for pre-selection to drop anything, runs the
    * declarative cross-join + aggregate plan, which Catalyst pipelines into
    * one stage up to the top-k shuffle.
    *
    * Both paths use the identical fp64 left-to-right distance loop and the
    * (dist, id) total order, so their results are bit-identical.
    *
    * @param queries DataFrame with (qid: long, qvec: array<float>)
    * @return (qid, rank, label, dist) — rank 0-based best-first, k rows per
    *         query, sentinel-padded; dist is squared L2 or inner product.
    */
  def search(queries: DataFrame, k: Int): DataFrame = search(queries, k, forceDeclarative = false)

  /** @param forceDeclarative bypass the fused gate and always use the
    *         cross-join + aggregate plan — the analog of the reference's
    *         `setForceMPS` escape hatch (`src/MetalIndexFlat.mm:546-548`);
    *         both paths must produce identical results (tested).
    */
  def search(queries: DataFrame, k: Int, forceDeclarative: Boolean): DataFrame = {
    require(k > 0, s"k must be > 0, got $k") // ref mm:321
    val q = queries.select(col("qid"), col("qvec"))
    if (cachedNtotal == 0L) {
      // ref mm:328-334: all slots sentinel-filled
      return q.select(
        col("qid"),
        posexplode(array_repeat(
          struct(lit(-1L).as("label"), lit(metric.sentinel).as("score")), k)))
        .select(col("qid"), col("pos").cast(IntegerType).as("rank"),
          col("col.label").as("label"),
          col("col.score").cast(FloatType).as("dist"))
    }
    val qRows =
      if (forceDeclarative) Array.empty[(Long, Array[Float])]
      else {
        import spark.implicits._
        q.as[(Long, Array[Float])].limit(maxCollectedQueries(d) + 1).collect()
      }
    qRows.foreach { case (qid, v) =>
      require(v != null && v.length == d, s"VectorIndexFlat.search: query $qid has " +
        s"dimension ${if (v == null) "null" else v.length}, the index has d = $d")
    }
    val scored =
      if (!forceDeclarative && useFusedPath(qRows.length, d, cachedNtotal, k))
        fusedPartialsData(qRows.toSeq, k)
      else {
        val dist = metric match {
          case Metric.L2           => squaredL2(col("vec"), col("qvec"))
          case Metric.InnerProduct => dotProduct(col("vec"), col("qvec"))
        }
        decoded.crossJoin(broadcast(q))
          .select(col("qid"), col("id"), dist.as("score"))
      }
    scored
      .groupBy(col("qid"))
      .agg(topK(col("score"), col("id"), k, metric.ascending, padToK = true)
        .as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), col("pos").cast(IntegerType).as("rank"),
        col("col.label").as("label"),
        col("col.score").cast(FloatType).as("dist"))
  }

  /** Fused distance + per-partition bounded top-k (ref
    * `shaders/fused_l2_topk.metal`: each chunk warp-selects its partial
    * list, a final merge combines them — here the final merge is the
    * regular top-k aggregate over ≤ nq·k rows per partition). Planned
    * through the Catalyst-native [[graft.plans.KnnNode]] whole-operator,
    * which reads the vector column straight from the scan's `ArrayData`
    * (no per-row encoder copy).
    */
  private def fusedPartialsData(qData: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    // reduced-precision storage feeds the 16-bit column STRAIGHT into the
    // fused operator, which decodes each element once into its reused row
    // buffer (ref simdgroup_gemm.metal f16/bf16 tiles) — the scan moves half
    // the bytes and no fp32 column is materialized, unlike the declarative
    // path's dequantize projection
    val (src, dec) = storage match {
      case StorageType.Float32  => (data.select(col("id"), col("vec")), 0)
      case StorageType.Float16  => (data.select(col("id"), col("vech")), 1)
      case StorageType.BFloat16 => (data.select(col("id"), col("vech")), 2)
      // SQ8/SQ4 ride the fused loop through the codegen'd dequantize
      // projection (the scale is per-row, so the in-register decode the
      // 16-bit formats use doesn't apply without widening KnnPartialExec)
      case StorageType.Int8 | StorageType.Int4 | StorageType.Fp8 =>
        (decoded.select(col("id"), col("vec")), 0)
    }
    graft.plans.Knn.partials(src, qData, k,
      ascending = metric.ascending,
      innerProduct = metric == Metric.InnerProduct,
      decode = dec)
  }

  /** Serving-style single-query search: ONE job, ONE stage, no shuffle.
    *
    * The batch `search` pays the full SQL stack per call — gate-probe job,
    * planning, partial top-k stage, a shuffle by qid, final aggregate —
    * a ~300 ms floor on this box regardless of data size. A point lookup
    * needs none of it: the fused partials (≤ k rows per partition,
    * straight off the cached scan) are collected and the final
    * block_select-style merge runs on the driver over ≤ partitions·k rows.
    * Semantics (sentinel padding, (dist, id) order, k>ntotal clamp) are
    * identical to `search` with a single query.
    *
    * @return (label, dist) best-first, length k, sentinel-padded.
    */
  def searchPoint(qvec: Array[Float], k: Int): Array[(Long, Double)] = {
    require(k > 0, s"k must be > 0, got $k")
    val pad = (-1L, metric.sentinel)
    if (cachedNtotal == 0L) return Array.fill(k)(pad)
    val rows = fusedPartialsData(Seq((0L, qvec)), k).collect()
    val buf = new graft.operators.TopKBuffer(k, metric.ascending)
    rows.foreach(r => buf.insert(r.getDouble(2), r.getLong(1)))
    val order = buf.sortedIndices
    val out = order.map(i => (buf.labels(i), buf.scores(i)))
    out ++ Array.fill(k - out.length)(pad)
  }

  /** Prepared serving handle — the lowest-latency point-search path.
    *
    * [[searchPoint]] still pays SQL planning + a tiny broadcast per call
    * (~150-250 ms on this box). A prepared searcher does that work ONCE:
    * the corpus is packed into per-partition primitive arrays (ids + flat
    * vector data) and cached; each subsequent call is one `runJob` over
    * the cached RDD with the 1-query vector riding in the task closure —
    * no planning, no broadcast, no shuffle, no SQL. This is the Spark
    * analog of the reference's persistent command-queue serving loop
    * (`src/MetalIndexFlat.mm:441-463` reused per-call buffers).
    *
    * Reduced-precision indexes pack the RAW 16-bit `vech` shorts — half
    * the snapshot memory of an fp32 decode — and decode in-register via
    * the 2¹⁶-entry lookup table inside the scan loop, the serving analog
    * of the f16 GEMM scan path (`shaders/simdgroup_gemm.metal:262-370`).
    * Decoded values are bit-exact, so results equal the fp32-decoded path.
    *
    * The handle reflects the index contents AT PREPARE TIME (like a
    * trained/sealed serving snapshot); re-prepare after `add`/`reset`.
    * Results are identical to `search` (same fp64 loop, (dist, id) order,
    * sentinel padding).
    *
    * Durability: the snapshot rides on `localCheckpoint`, which is
    * non-reliable BY DESIGN — if an executor holding cached blocks dies,
    * the truncated lineage cannot recompute them. The searcher detects
    * that failure and transparently re-prepares from the index's (still
    * reliable) lineage, so a lost executor costs one re-pack, not a
    * permanently broken handle.
    */
  def pointSearcher(k: Int): PointSearcher = {
    require(k > 0, s"k must be > 0, got $k")
    val dim = d
    val build: () => org.apache.spark.rdd.RDD[(Array[Long], Array[Float], Array[Short])] =
      storage match {
        case StorageType.Float32 | StorageType.Int8 | StorageType.Int4 |
             StorageType.Fp8 => () =>
          // SQ8/SQ4 pack the decoded fp32 (per-row scales rule out a
          // shared in-loop decode table; the snapshot is still 1× fp32,
          // and the stored column stays 4×/8× smaller)
          (if (storage == StorageType.Float32) data else decoded)
            .select(col("id"), col("vec")).rdd.mapPartitions { it =>
            val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
            val flat = scala.collection.mutable.ArrayBuilder.make[Float]
            it.foreach { r =>
              ids += r.getLong(0)
              val v = r.getSeq[Float](1)
              var t = 0
              while (t < dim && t < v.length) { flat += v(t); t += 1 }
              while (t < dim) { flat += 0f; t += 1 } // defensive pad
            }
            if (ids.isEmpty) Iterator.empty
            else Iterator.single((ids.toArray, flat.result(), Array.emptyShortArray))
          }
        case _ => () =>
          data.select(col("id"), col("vech")).rdd.mapPartitions { it =>
            val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
            val flat = scala.collection.mutable.ArrayBuilder.make[Short]
            it.foreach { r =>
              ids += r.getLong(0)
              val v = r.getSeq[Short](1)
              var t = 0
              while (t < dim && t < v.length) { flat += v(t); t += 1 }
              while (t < dim) { flat += 0.toShort; t += 1 } // defensive pad
            }
            if (ids.isEmpty) Iterator.empty
            else Iterator.single((ids.toArray, Array.emptyFloatArray, flat.result()))
          }
      }
    new PointSearcher(spark, build, storage == StorageType.BFloat16, dim, k,
      metric.ascending, metric == Metric.InnerProduct, metric.sentinel)
  }

  /** Async search: identical plan on a background thread; results must be
    * (and are) identical to the sync path — concurrent tokens share no
    * mutable state (each gets its own immutable plan), the analog of the
    * reference's per-call buffers (`mm:441-463`).
    */
  def searchAsync(queries: DataFrame, k: Int)(
      implicit ec: ExecutionContext = ExecutionContext.global): SearchToken = {
    require(k > 0, s"k must be > 0, got $k")
    // the whole search (including the gate's query-batch collect, itself a
    // Spark job) runs on the background thread — the caller returns
    // immediately, like the reference's commit-without-wait
    new SearchToken(Future(search(queries, k).orderBy("qid", "rank").collect()))
  }

  /** Sink boundary — the analog of `index_metal_to_cpu` + persistence. */
  def toParquet(path: String): Unit =
    decoded.write.mode("overwrite").parquet(path)
}

/** Sealed serving snapshot from [[VectorIndexFlat.pointSearcher]]: one
  * `runJob` per query over pre-packed per-partition primitive arrays
  * (fp32 floats, or raw 16-bit `vech` shorts decoded in the loop via the
  * [[graft.functions.FloatBits.decodeTable]] lookup — half the snapshot
  * memory for reduced-precision indexes). `close()` releases the cached
  * blocks.
  *
  * The snapshot uses `localCheckpoint` (lineage truncated to the cached
  * blocks — ~140 ms/job of task-closure serialization saved). That cache
  * is non-reliable: a lost executor makes its blocks unrecoverable, which
  * Spark surfaces as a "Checkpoint block not found" failure. `search`
  * catches exactly that and re-prepares the snapshot from the index's
  * reliable lineage, retrying the query once — long-lived cluster serving
  * degrades to one re-pack per executor loss instead of failing forever.
  */
final class PointSearcher private[index] (
    spark: SparkSession,
    build: () => org.apache.spark.rdd.RDD[(Array[Long], Array[Float], Array[Short])],
    bfloat: Boolean,
    d: Int, k: Int, ascending: Boolean, innerProduct: Boolean,
    sentinel: Double) {

  private def prepare(): org.apache.spark.rdd.RDD[(Array[Long], Array[Float], Array[Short])] = {
    val p = build()
    // localCheckpoint, not plain persist: it TRUNCATES the lineage to the
    // cached blocks. The packed RDD descends from a SQL plan whose object
    // graph otherwise rides inside EVERY task closure — measured ~140 ms
    // of task-serialization per runJob on this box vs ~20 ms truncated.
    p.localCheckpoint()
    p.count() // materialize now so first search pays no scan
    p
  }

  // @volatile: written under this.synchronized during recovery but read
  // lock-free in run() — without it a concurrent searcher can see the
  // stale (lost-block) RDD and burn an extra failed job before healing.
  @volatile private[graft] var packed = prepare()
  @volatile private[this] var closed = false

  def search(qvec: Array[Float]): Array[(Long, Double)] = {
    if (closed) throw new IllegalStateException(
      "PointSearcher is closed — create a new searcher via pointSearcher()")
    try run(qvec)
    catch {
      case e: org.apache.spark.SparkException
          if e.getMessage != null && e.getMessage.contains("Checkpoint block") =>
        // non-reliable localCheckpoint blocks were lost (dead executor or
        // external unpersist) — rebuild the snapshot once and retry.
        // Synchronized so concurrent searchers racing into recovery
        // re-prepare ONCE instead of each building (and leaking) a
        // snapshot; the double-check skips the rebuild if another thread
        // already replaced the RDD this thread failed on.
        val failed = packed
        this.synchronized {
          if (closed) throw new IllegalStateException(
            "PointSearcher closed during recovery")
          if (packed eq failed) {
            packed.unpersist(blocking = false)
            packed = prepare()
          }
        }
        run(qvec)
    }
  }

  private def run(qvec: Array[Float]): Array[(Long, Double)] = {
    require(qvec.length == d, s"query must have dimension $d")
    val kk = k; val asc = ascending; val ip = innerProduct; val dim = d
    val bf = bfloat
    val q = qvec // task-closure copy: tiny, cheaper than a broadcast round
    val partials: Array[(Array[Long], Array[Double])] =
      spark.sparkContext.runJob(packed,
        (it: Iterator[(Array[Long], Array[Float], Array[Short])]) => {
          val table = graft.functions.FloatBits.decodeTable(bf)
          val buf = new graft.operators.TopKBuffer(kk, asc)
          it.foreach { case (ids, flatF, flatS) =>
            val sixteen = flatS.length > 0
            var i = 0
            while (i < ids.length) {
              val off = i * dim
              var acc = 0.0
              var t = 0
              if (sixteen) {
                if (ip) while (t < dim) {
                  acc += table(flatS(off + t) & 0xFFFF).toDouble * q(t).toDouble; t += 1
                } else while (t < dim) {
                  val dd = table(flatS(off + t) & 0xFFFF).toDouble - q(t).toDouble
                  acc += dd * dd; t += 1
                }
              } else {
                if (ip) while (t < dim) { acc += flatF(off + t).toDouble * q(t).toDouble; t += 1 }
                else while (t < dim) {
                  val dd = flatF(off + t).toDouble - q(t).toDouble; acc += dd * dd; t += 1
                }
              }
              buf.insert(acc, ids(i))
              i += 1
            }
          }
          val order = buf.sortedIndices
          (order.map(buf.labels), order.map(buf.scores))
        })
    val merged = new graft.operators.TopKBuffer(k, ascending)
    partials.foreach { case (ls, ss) =>
      var i = 0
      while (i < ls.length) { merged.insert(ss(i), ls(i)); i += 1 }
    }
    val order = merged.sortedIndices
    val out = order.map(i => (merged.labels(i), merged.scores(i)))
    out ++ Array.fill(k - out.length)((-1L, sentinel))
  }

  def close(): Unit = this.synchronized {
    closed = true
    packed.unpersist(blocking = false)
  }
}

object VectorIndexFlat {

  /** Byte bound on the query batch `search` collects (8 B of qid + 4 B per
    * element a row) to choose and feed the fused path. The declarative path
    * broadcasts the same rows, so this bounds driver memory, not exposure;
    * at d = 128 it admits 32k queries.
    */
  val maxFusedQueryBytes: Long = 16L << 20

  private[graft] def maxCollectedQueries(d: Int): Int =
    (maxFusedQueryBytes / (8L + 4L * d)).toInt

  /** Per-task fused top-k state budget, in (nq·k) heap rows: the fused
    * operator splits each vector partition's queries into enough blocks
    * that one task holds at most this many (the analog of the reference's
    * k ≤ 32 fused bound, `src/MetalDistance.mm:341-353`, which it enforces
    * by refusing rather than tiling).
    */
  val maxFusedStateRows: Long = 1L << 22

  /** Below `minFusedNtotalFactor · k` vectors the fused pre-selection
    * cannot drop anything (every partition emits ≈ everything it scanned),
    * so the custom-strategy plan is pure overhead — mirror of the
    * reference's minimum-work gate (nq·nv ≥ 8M, `MetalDistance.mm:341-353`,
    * which likewise refuses to dispatch the fused kernel on tiny problems).
    */
  val minFusedNtotalFactor = 4L

  /** Cost-model choice of physical path from (nq, d, ntotal, k) — the Spark
    * analog of the reference's fused gate (`src/MetalDistance.mm:341-353`:
    * nq·nv ≥ 8M ∧ nq ≤ 4 ∧ k ≤ 32). Fused when the collected batch fits
    * `maxFusedQueryBytes` and the index holds at least
    * `minFusedNtotalFactor · k` vectors; query count and k are otherwise
    * unbounded, because the operator tiles queries to keep each task's
    * state within `maxFusedStateRows`. All operands are known exactly at
    * plan time (ntotal is index metadata, not an estimate). Both paths are
    * proven bit-identical, so the gate affects cost only.
    */
  private[graft] def useFusedPath(nq: Int, d: Int, nv: Long, k: Int): Boolean =
    nq <= maxCollectedQueries(d) && nv >= minFusedNtotalFactor * k

  private val rawSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def emptyData(spark: SparkSession, storage: StorageType): DataFrame = {
    val schema = storage match {
      case StorageType.Float32 => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
        StructField("norm", DoubleType, nullable = false)))
      case StorageType.Int8 | StorageType.Int4 => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vecb", ArrayType(ByteType, containsNull = false), nullable = false),
        StructField("scale", DoubleType, nullable = false),
        StructField("norm", DoubleType, nullable = false)))
      case StorageType.Fp8 => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vecb", ArrayType(ByteType, containsNull = false), nullable = false),
        StructField("norm", DoubleType, nullable = false)))
      case _ => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vech", ArrayType(ShortType, containsNull = false), nullable = false),
        StructField("norm", DoubleType, nullable = false)))
    }
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  def apply(spark: SparkSession, d: Int, metric: Metric = Metric.L2,
            storage: StorageType = StorageType.Float32): VectorIndexFlat =
    new VectorIndexFlat(spark, d, metric, storage)

  /** Source boundary — build from an existing (id, vec) DataFrame without
    * reassigning ids (the analog of `index_cpu_to_metal`,
    * `/root/reference/src/MetalIndexFlat.mm:552-565`).
    */
  def fromDataFrame(spark: SparkSession, df: DataFrame, d: Int,
                    metric: Metric = Metric.L2,
                    storage: StorageType = StorageType.Float32,
                    idCol: String = "id", vecCol: String = "vec"): VectorIndexFlat = {
    val idx = new VectorIndexFlat(spark, d, metric, storage)
    val raw = df.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("vec"))
    val counts = raw.agg(count(lit(1)), sum(when(size(col("vec")) =!= d, 1).otherwise(0))).head
    val n = counts.getLong(0)
    val badDims = if (counts.isNullAt(1)) 0L else counts.getLong(1) // null sum = empty df
    require(badDims == 0L, s"all vectors must have dimension $d")
    idx.data = idx.prepare(raw).persist(StorageLevel.MEMORY_AND_DISK)
    idx.cachedNtotal = n
    idx
  }

  def fromParquet(spark: SparkSession, path: String, d: Int,
                  metric: Metric = Metric.L2,
                  storage: StorageType = StorageType.Float32): VectorIndexFlat =
    fromDataFrame(spark, spark.read.parquet(path), d, metric, storage)
}
