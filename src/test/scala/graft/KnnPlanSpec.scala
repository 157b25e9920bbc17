package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.index.{Metric, VectorIndexFlat}
import graft.plans.{Knn, KnnPartialExec}

class KnnPlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("fused search plans through KnnPartialExec (custom strategy)") {
    val idx = VectorIndexFlat(spark, 8, Metric.L2)
    idx.add(Oracle.genVectors(50, 8).toSeq)
    val plan = idx.search(Oracle.queriesDf(spark, Oracle.genVectors(2, 8)), 3)
      .queryExecution.executedPlan
    // AQE wraps the tree; the node must appear (without the `!` invalid
    // marker) in the rendered plan
    val rendered = plan.toString
    assert(rendered.contains("KnnPartial"), s"expected KnnPartialExec in:\n$rendered")
    assert(!rendered.contains("!KnnPartial"), s"KnnPartialExec invalid in:\n$rendered")
  }

  test("Knn.partials emits at most nq*k rows per partition and exact scores") {
    val vecs = Oracle.genVectors(200, 16)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false), nullable = false)))
    val vdf = spark.createDataFrame(java.util.Arrays.asList(
      vecs.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v) }: _*), schema)
      .repartition(4)
    val qs = Oracle.genVectors(3, 16, seed = 7)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    val partials = Knn.partials(vdf, qs, 5, ascending = true, innerProduct = false)
    assert(partials.count() <= 4L * 3 * 5)
    // global top-k over partials equals scalar oracle
    import graft.functions.topK
    val merged = partials.groupBy(col("qid"))
      .agg(topK(col("score"), col("id"), 5, ascending = true).as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .collect().groupBy(_.getLong(0))
    val want = Oracle.bruteForceKnn(vecs, qs.map(_._2).toArray, 5, innerProduct = false)
    for (q <- 0 until 3) {
      val got = merged(q.toLong).sortBy(_.getInt(1))
        .map(_.getStruct(2).getLong(0)).toSeq
      assert(got === want(q).map(_._1).toSeq)
    }
  }

  test("one vector partition: query blocks use every core, partials stay ≤ vparts·nq·k") {
    val par = spark.sparkContext.defaultParallelism
    val nq = par + 3
    val k = 5
    val vdf = vecDf(200, 16).coalesce(1)
    val qs = Oracle.genVectors(nq, 16, seed = 7).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    val partials = Knn.partials(vdf, qs, k, ascending = false, innerProduct = true, decode = 0)
    assert(partials.queryExecution.toRdd.getNumPartitions >= math.min(nq, par))
    assert(partials.count() <= 1L * nq * k)
    // explain() names the gate's inputs and the tiling, not the query list
    val plan = partials.queryExecution.executedPlan.toString
    assert(plan.contains(s"KnnPartial nq=$nq k=$k metric=ip decode=fp32 qBlocks=${math.min(nq, par)}"), plan)
    assert(partials.queryExecution.optimizedPlan.toString.contains(s"Knn nq=$nq k=$k metric=ip"))
    assert(!plan.contains("[F@"), plan)
  }

  private def vecDf(n: Int, d: Int, seed: Long = 42): org.apache.spark.sql.DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false), nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(
      Oracle.genVectors(n, d, seed = seed).zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v) }: _*), schema)
  }

  test("shuffleTiledTopK ≡ bruteForceTopK bit-identically, all metrics") {
    import graft.ops.Similarity
    val vdf = vecDf(300, 16).repartition(5)
    val qdf = vecDf(7, 16, seed = 9)
      .select(col("id").as("qid"), col("vec").as("qv"))
    for (metric <- Seq("l2", "ip", "cosine")) {
      val want = Similarity.bruteForceTopK(vdf, qdf, 6, metric)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      val got = Similarity.shuffleTiledTopK(vdf, qdf, 6, metric, numTiles = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      assert(got === want, s"tiled path diverged for metric=$metric")
    }
  }

  test("shuffleTiledTopK plans a shuffle join — no broadcast of either side") {
    import graft.ops.Similarity
    val vdf = vecDf(300, 16).repartition(5)
    val qdf = vecDf(7, 16, seed = 9)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val rendered = Similarity.shuffleTiledTopK(vdf, qdf, 6, "l2", numTiles = 4)
      .queryExecution.executedPlan.toString
    assert(rendered.contains("ShuffledHashJoin"),
      s"expected a shuffle-hash tile join in:\n$rendered")
    assert(!rendered.contains("BroadcastHashJoin"),
      s"the tiled formulation must not broadcast:\n$rendered")
  }

  test("shuffleTiledTopK covers every vector exactly once across tiles") {
    import graft.ops.Similarity
    // k ≥ n: every vector must appear for every query — a tile dropping
    // or double-counting rows would break the cardinality
    val vdf = vecDf(40, 8)
    val qdf = vecDf(3, 8, seed = 5)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val rows = Similarity.shuffleTiledTopK(vdf, qdf, 40, "l2", numTiles = 7)
      .collect()
    assert(rows.length === 3 * 40)
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).distinct.length === 3 * 40)
  }
}
