package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.FloatBits
import graft.operators.TopKBuffer

/** Catalyst-native fused kNN: the whole-operator form of the reference's
  * fused distance+top-k kernel (`/root/reference/shaders/fused_l2_topk.metal`
  * — per-chunk partial selection, merged afterwards).
  *
  * The logical node carries the query batch as data; the physical operator
  * runs distance + k-bounded selection in one primitive-loop pass over each
  * (vector partition, query block) tile, emitting ≤ nq·k partial rows per
  * vector partition directly as `InternalRow`s — no per-pair join row, no
  * encoder copy. The regular `TopKAgg` on top performs the final merge
  * (the analog of the fused kernel's SIMD-group-0 merge).
  */
case class KnnNode(
    child: LogicalPlan,
    queries: Seq[(Long, Array[Float])],
    k: Int,
    ascending: Boolean,
    innerProduct: Boolean,
    // 0 = fp32 child rows; 1 = f16 bits (array<short>); 2 = bf16 bits.
    // Reduced precision is decoded once per stored element, inside the
    // operator — the scan reads half the bytes and no fp32 column is ever
    // materialized (the J4/J5 analog of the reference's half-width GEMM
    // tiles, shaders/simdgroup_gemm.metal:262-370).
    decode: Int = 0,
    // constructor field, NOT a val: tree copies (optimizer rewrites) must
    // preserve the expression ids consumers already reference
    output: Seq[Attribute] = KnnNode.freshOutput())
  extends UnaryNode {

  // this node *produces* its attributes (they don't come from the child)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override def simpleString(maxFields: Int): String =
    s"Knn ${Knn.describe(queries.length, k, innerProduct, decode)}"

  override protected def withNewChildInternal(newChild: LogicalPlan): KnnNode =
    copy(child = newChild)
}

object KnnNode {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** Runs over `vparts × qBlocks` tiles: tile (v, b) reads vector partition v
  * and scores query block b against it (see [[Knn.queryBlocks]]), so the
  * per-task top-k state stays bounded and an index with fewer partitions
  * than cores still keeps every core busy.
  */
case class KnnPartialExec(
    output: Seq[Attribute],
    queries: Seq[(Long, Array[Float])],
    k: Int,
    ascending: Boolean,
    innerProduct: Boolean,
    decode: Int,
    child: SparkPlan)
  extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  @transient private lazy val vectors: RDD[InternalRow] = child.execute()

  private def qBlocks: Int = Knn.queryBlocks(vectors.getNumPartitions, queries.length, k,
    sparkContext.defaultParallelism)

  override def simpleString(maxFields: Int): String =
    s"KnnPartial ${Knn.describe(queries.length, k, innerProduct, decode)} qBlocks=$qBlocks"

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = sparkContext.broadcast(queries.toArray)
    val kk = k
    val asc = ascending
    val ip = innerProduct
    val dec = decode
    val blocks = qBlocks
    val types = output.map(_.dataType).toArray
    // cartesian with one block id per partition: tile p = v·blocks + b
    // reads vector partition v (narrow, so a cached partition is read from
    // its block) and scores query block b
    vectors.cartesian(sparkContext.parallelize(0 until blocks, blocks))
      .mapPartitionsWithIndex { (p, tile) =>
        val block = p % blocks
        val qs = bc.value
        val q0 = (block.toLong * qs.length / blocks).toInt
        val q1 = ((block + 1L) * qs.length / blocks).toInt
        val bufs = Knn.scoreBlock(tile.map(_._1), qs, q0, q1, kk, asc, ip, dec)
        // UnsafeRow output: lets this node sit at the ROOT of a plan too
        // (e.g. a collect of the partials for a driver-side merge) — Spark's
        // byte-array collect path casts rows to UnsafeRow
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(types)
        // heap order: the final TopKAgg merge is order-independent
        bufs.iterator.zipWithIndex.flatMap { case (b, i) =>
          Iterator.tabulate(b.size) { s =>
            proj(new GenericInternalRow(
              Array[Any](qs(q0 + i)._1, b.labels(s), b.scores(s)))): InternalRow
          }
        }
      }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KnnPartialExec =
    copy(child = newChild)
}

/** Plans [[KnnNode]]; attach with `spark.experimental.extraStrategies` or
  * via [[graft.GraftExtensions]].
  */
object KnnStrategy extends SparkStrategy {


  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnNode(child, queries, k, asc, ip, dec, out) =>
      KnnPartialExec(out, queries, k, asc, ip, dec, planLater(child)) :: Nil
    case _ => Nil
  }
}

object Knn {

  /** Register the strategy on a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(KnnStrategy)) {
      spark.experimental.extraStrategies = cur :+ KnnStrategy
    }
  }

  /** Fused partial-kNN DataFrame (qid, id, score) over a (id, vec)
    * DataFrame — apply `topK` grouped by qid on top for final results.
    * All queries must share one dimension.
    *
    * @param decode 0 = the vector column is fp32; 1/2 = f16/bf16 bits
    *         (array<short>), decoded once per stored element by the operator.
    */
  def partials(vectors: DataFrame, queries: Seq[(Long, Array[Float])],
               k: Int, ascending: Boolean, innerProduct: Boolean,
               decode: Int = 0): DataFrame = {
    require(queries.forall(_._2.length == queries.head._2.length),
      "Knn.partials: all queries must have the same dimension")
    val spark = vectors.sparkSession
    install(spark)
    GraftBridge.ofRows(spark,
      KnnNode(vectors.queryExecution.analyzed, queries, k, ascending,
        innerProduct, decode))
  }

  private[plans] def describe(nq: Int, k: Int, innerProduct: Boolean, decode: Int): String =
    s"nq=$nq k=$k metric=${if (innerProduct) "ip" else "l2"} " +
      s"decode=${Seq("fp32", "f16", "bf16")(decode)}"

  /** Query blocks per vector partition: enough tiles to give every core a
    * task, and enough that one tile's top-k state stays within
    * `VectorIndexFlat.maxFusedStateRows` (nq·k / qBlocks rows), never more
    * blocks than queries.
    */
  private[graft] def queryBlocks(vparts: Int, nq: Int, k: Int, parallelism: Int): Int = {
    val forCores = (parallelism + math.max(vparts, 1) - 1) / math.max(vparts, 1)
    val budget = graft.index.VectorIndexFlat.maxFusedStateRows
    val forState = (nq.toLong * k + budget - 1) / budget
    math.max(1L, math.min(nq.toLong, math.max(forCores.toLong, forState))).toInt
  }

  /** Scores every stored (id, vector) row against queries [q0, q1) and
    * returns one bounded top-k buffer per query.
    *
    * Each stored row is decoded once into a reused fp64 buffer, the block's
    * queries are widened once into one flat fp64 array, and four queries
    * share each pass over the decoded row, each with its own accumulator.
    * Every (query, vector) score is the same left-to-right fp64 sum over
    * min(row length, d) elements as the declarative expressions compute, so
    * both physical paths agree bit for bit.
    */
  private[plans] def scoreBlock(rows: Iterator[InternalRow], qs: Array[(Long, Array[Float])],
                                q0: Int, q1: Int, k: Int, ascending: Boolean,
                                innerProduct: Boolean, decode: Int): Array[TopKBuffer] = {
    val nb = q1 - q0
    val bufs = Array.fill(nb)(new TopKBuffer(k, ascending))
    if (nb == 0) return bufs
    val d = qs(q0)._2.length
    val q = Array.tabulate(nb * d)(t => qs(q0 + t / d)._2(t % d).toDouble)
    val v = new Array[Double](d)
    rows.foreach { row =>
      val id = row.getLong(0)
      val vec = row.getArray(1)
      val n = math.min(vec.numElements(), d)
      var j = 0
      if (decode == 0) while (j < n) { v(j) = vec.getFloat(j).toDouble; j += 1 }
      else if (decode == 1)
        while (j < n) { v(j) = FloatBits.halfBitsToFloat(vec.getShort(j)).toDouble; j += 1 }
      else
        while (j < n) { v(j) = FloatBits.bf16BitsToFloat(vec.getShort(j)).toDouble; j += 1 }
      var b = 0
      while (b + 4 <= nb) {
        val o0 = b * d; val o1 = o0 + d; val o2 = o1 + d; val o3 = o2 + d
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        j = 0
        if (innerProduct)
          while (j < n) {
            val x = v(j)
            a0 += x * q(o0 + j); a1 += x * q(o1 + j)
            a2 += x * q(o2 + j); a3 += x * q(o3 + j)
            j += 1
          }
        else
          while (j < n) {
            val x = v(j)
            val e0 = x - q(o0 + j); val e1 = x - q(o1 + j)
            val e2 = x - q(o2 + j); val e3 = x - q(o3 + j)
            a0 += e0 * e0; a1 += e1 * e1; a2 += e2 * e2; a3 += e3 * e3
            j += 1
          }
        bufs(b).insert(a0, id); bufs(b + 1).insert(a1, id)
        bufs(b + 2).insert(a2, id); bufs(b + 3).insert(a3, id)
        b += 4
      }
      while (b < nb) {
        val o = b * d
        var a = 0.0
        j = 0
        if (innerProduct) while (j < n) { a += v(j) * q(o + j); j += 1 }
        else while (j < n) { val e = v(j) - q(o + j); a += e * e; j += 1 }
        bufs(b).insert(a, id)
        b += 1
      }
    }
    bufs
  }
}
