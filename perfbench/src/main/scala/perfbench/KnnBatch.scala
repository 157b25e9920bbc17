package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.index.{Metric, StorageType, VectorIndexFlat}

/** One index shape of the batch workload. */
final case class Shape(name: String, n: Int, d: Int, metric: Metric, storage: StorageType,
                       nq: Int, k: Int) {
  def ip: Boolean = metric == Metric.InnerProduct
  def f16: Boolean = storage == StorageType.Float16
}

object Shape {
  /** The three batch shapes. Each sits on a chosen side of the fused /
    * declarative gate (`VectorIndexFlat.useFusedPath`, nq ≤ 1024) and of the
    * storage choice. */
  def batch(tiny: Boolean): Seq[Shape] =
    if (!tiny) Seq(
      Shape("l2-fp32-128d", 40000, 128, Metric.L2, StorageType.Float32, 64, 10),
      Shape("ip-f16-768d", 16384, 768, Metric.InnerProduct, StorageType.Float16, 16, 10),
      Shape("l2-decl-64d", 2048, 64, Metric.L2, StorageType.Float32, 1100, 100))
    else Seq(
      Shape("l2-fp32-128d", 2000, 128, Metric.L2, StorageType.Float32, 16, 10),
      Shape("ip-f16-768d", 1000, 768, Metric.InnerProduct, StorageType.Float16, 4, 10),
      Shape("l2-decl-64d", 600, 64, Metric.L2, StorageType.Float32, 1100, 100))
}

/** Stored vectors of one shape, with the rounding the index applies to them. */
final class Corpus(val shape: Shape, seed: Long, batches: Int) {
  private val mix = new Mixture(shape.d, seed, unitNorm = shape.ip)
  val raw: Array[Array[Float]] = mix.draw(shape.n)
  /** What the index holds, element for element (f16 storage rounds). */
  val stored: IndexedSeq[Array[Float]] =
    if (shape.f16) raw.map(BruteForce.f16Round).toIndexedSeq else raw.toIndexedSeq
  val queries: IndexedSeq[Array[Array[Float]]] = (0 until batches).map(_ => mix.draw(shape.nq))

  def digest: Long = {
    var h = 1125899906842597L
    def mixIn(v: Array[Float]): Unit = { var j = 0; while (j < v.length) { h = 31 * h + java.lang.Float.floatToIntBits(v(j)); j += 1 } }
    mixIn(raw(0)); mixIn(raw(raw.length - 1)); mixIn(queries(0)(0))
    h
  }
}

object KnnCheck {
  private val querySchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))

  def queryFrame(spark: SparkSession, qs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(qs.indices.map(i => Row(i.toLong, qs(i))).asJava, querySchema)

  /** (qid → best-first (label, dist)) from the collected (qid, rank, label, dist) rows. */
  def byQuery(rows: Array[Row]): Map[Long, Array[(Long, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getFloat(3).toDouble))
    }
}

/** `knn-batch`: a fixed, seeded list of `VectorIndexFlat.search` batches over
  * three index shapes. The kernel, top-k and the kNN operator do most of the
  * work; the Spark driver does little. */
final class KnnBatch extends Workload {
  private val PoolBatches = 6
  private var shapes: Seq[Shape] = Nil
  private var corpora: Map[String, Corpus] = Map.empty
  private var indexes: Map[String, VectorIndexFlat] = Map.empty
  private var frames: Map[String, IndexedSeq[DataFrame]] = Map.empty
  private var rnd: java.util.Random = _

  def inputDigest: String = shapes.map(s => s"${s.name}:${corpora(s.name).digest}").mkString(",")

  def setup(spark: SparkSession, o: Opts, out: Outcome, report: Report): Double = {
    rnd = new java.util.Random(o.seed ^ 0x6b6e6e)
    shapes = Shape.batch(o.tiny)
    val t0 = System.nanoTime()
    corpora = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = shapes.zipWithIndex.map { case (s, i) => Future(s.name -> new Corpus(s, o.seed * 31 + i, PoolBatches)) }
      Await.result(Future.sequence(fs), scala.concurrent.duration.Duration.Inf).toMap
    }
    val genS = (System.nanoTime() - t0) / 1e9
    // the index build is set up three times; its median is the set-up figure
    val builds = (1 to 3).map { rep =>
      indexes.values.foreach(_.reset())
      val b0 = System.nanoTime()
      indexes = shapes.map { s =>
        val before = Storage.bytes(spark)
        val idx = VectorIndexFlat(spark, s.d, s.metric, s.storage).add(corpora(s.name).raw.toSeq)
        if (rep == 3) {
          val bytes = Storage.bytes(spark) - before
          report.put(s"index.stored_bytes_per_vec.${s.name}", bytes / s.n, "B")
        }
        s.name -> idx
      }.toMap
      (System.nanoTime() - b0) / 1e9
    }
    report.put("stored_mb", Storage.bytes(spark) / 1e6, "MB")
    frames = shapes.map(s => s.name -> corpora(s.name).queries.map(q => KnnCheck.queryFrame(spark, q))).toMap
    // warm-up: one checked batch per shape, untimed
    val w0 = System.nanoTime()
    shapes.foreach(s => runBatch(s, 0, out, corrupt = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    println(f"[perfbench] knn-batch set-up: generate $genS%.2f s, build ${builds.map(b => f"$b%.2f").mkString("/")} s, warm-up $warmS%.2f s")
    genS + Stats.median(builds) + warmS
  }

  /** One search batch, consumed in full; checked untimed. Returns the wall ms. */
  private def runBatch(s: Shape, b: Int, out: Outcome, corrupt: Boolean,
                       trace: Option[Trace] = None): Double = {
    val idx = indexes(s.name)
    val q = frames(s.name)(b)
    val t0 = System.nanoTime()
    val rows = trace match {
      case Some(t) => t.op("index.search",
          Map("nq" -> s.nq, "ntotal" -> idx.ntotal.toDouble, "d" -> s.d, "k" -> s.k),
          Map("shape" -> s.name))(idx.search(q, s.k).collect())
      case None => idx.search(q, s.k).collect()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val got = KnnCheck.byQuery(rows)
    val qs = corpora(s.name).queries(b)
    // a seeded sample of queries in every batch against the brute force
    val sample = Seq(rnd.nextInt(s.nq), rnd.nextInt(s.nq))
    val ok = rows.length == s.nq * s.k && got.size == s.nq && sample.forall { qi =>
      val g0 = got(qi.toLong)
      val g = if (corrupt && qi == sample.head) Corrupt.swap(g0) else g0
      BruteForce.agrees(g, BruteForce.search(corpora(s.name).stored, s.n, qs(qi), s.k, s.metric), asFloat = true)
    }
    out.record(ok, s"${s.name} batch $b (sample ${sample.mkString(",")})")
    ms
  }

  def measure(spark: SparkSession, o: Opts, trace: Trace, out: Outcome, report: Report): Unit = {
    val ms = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val t0 = System.nanoTime()
    var round = 0
    var corrupt = o.corrupt
    // rounds of one batch per shape, shapes in a seeded order each round;
    // at least three rounds so every shape has a median and a slowest batch
    while (round < 3 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val order = new scala.util.Random(rnd.nextLong()).shuffle(shapes)
      order.foreach { s =>
        ms(s.name) :+= runBatch(s, round % PoolBatches, out, corrupt, Some(trace).filter(_.enabled))
        corrupt = false
      }
      round += 1
    }
    // per shape, queries over its median batch wall: one slow batch (a GC
    // pause, a noisy neighbour) does not move the figure
    val qps = shapes.map { s =>
      val v = s.nq / (Stats.median(ms(s.name)) / 1e3)
      report.put(s"qps.${s.name}", v, "1/s")
      report.put(s"batches.${s.name}", ms(s.name).size, "count")
      println(s"[perfbench] ${s.name} batch walls ms: ${ms(s.name).map(m => f"$m%.0f").mkString(" ")}")
      v
    }
    report.put("ops_per_s", Stats.geomean(qps), "1/s")
    report.put("typical_ms", Stats.geomean(shapes.map(s => Stats.median(ms(s.name)))), "ms")
    report.put("tail_ms", Stats.geomean(shapes.map(s => ms(s.name).max)), "ms")
  }

  /** Per-shape figures from the traced run. */
  def traced(trace: Trace, report: Report): Unit = {
    val st = trace.opStats.filter(_.span.name == "index.search")
    st.groupBy(_.span.tags("shape")).toSeq.sortBy(_._1).foreach { case (shape, xs) =>
      val n = xs.size.toDouble
      val macs = xs.map(x => x.span.attrs("nq") * x.span.attrs("ntotal") * x.span.attrs("d")).sum
      val nq = xs.map(_.span.attrs("nq")).sum
      report.put(s"index.search.ms.$shape", Stats.median(xs.map(_.wallMs)), "ms")
      report.put(s"index.search.jobs_per_call.$shape", xs.map(_.jobs).sum / n, "count")
      report.put(s"index.search.driver_gap_ms.$shape", Stats.median(xs.map(_.driverGapMs)), "ms")
      report.put(s"index.search.cpu_ns_per_mac.$shape", xs.map(_.sums.cpuMs).sum * 1e6 / macs, "ns")
      report.put(s"index.search.shuffle_bytes_per_query.$shape",
        xs.map(x => x.sums.shuffleReadB).sum / nq, "B")
    }
  }
}

object Corrupt {
  /** Swap the first two labels: a wrong answer the check must catch. */
  def swap(r: Array[(Long, Double)]): Array[(Long, Double)] =
    if (r.length < 2) r
    else { val c = r.clone(); c(0) = (r(1)._1, r(0)._2); c(1) = (r(0)._1, r(1)._2); c }
}

object Storage {
  /** Bytes of every cached RDD block, memory and disk. */
  def bytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum
}
