package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.index.{Metric, PointSearcher, StorageType, VectorIndexFlat}

/** `knn-serve`: point serving beside writes on one fp32 L2 index. Each cycle
  * runs 200 single-query `PointSearcher.search` calls, one `reconstruct` of a
  * random id, one `add` of 512 new vectors, then closes the searcher and
  * prepares a new one. Per-call job launch and driver work dominate here,
  * and every `add` grows the union lineage and the partition count that
  * later searches scan. */
final class KnnServe extends Workload {
  private var searchesPerCycle = 0
  private var minSearches = 0
  private var n0 = 0
  private var d = 0
  private val k = 10
  private var addBatch = 0
  private var mix: Mixture = _
  private val stored = ArrayBuffer.empty[Array[Float]]
  private var queries: Array[Array[Float]] = Array.empty
  private var idx: VectorIndexFlat = _
  private var searcher: PointSearcher = _
  private var rnd: java.util.Random = _
  private var digest = 0L

  def inputDigest: String = s"n=$n0,d=$d:$digest"

  def setup(spark: SparkSession, o: Opts, out: Outcome, report: Report): Double = {
    n0 = if (o.tiny) 2000 else 10000
    d = 128
    addBatch = if (o.tiny) 64 else 512
    searchesPerCycle = if (o.tiny) 20 else 200
    minSearches = if (o.tiny) 100 else 1000
    rnd = new java.util.Random(o.seed ^ 0x73657276)
    val t0 = System.nanoTime()
    mix = new Mixture(d, o.seed * 31 + 7, unitNorm = false)
    stored ++= mix.draw(n0)
    queries = mix.draw(512)
    digest = java.util.Arrays.hashCode(stored(0)) * 31L + java.util.Arrays.hashCode(queries(0))
    val genS = (System.nanoTime() - t0) / 1e9
    // index build + searcher prepare, set up three times; median reported
    val builds = (1 to 3).map { _ =>
      if (searcher != null) searcher.close()
      if (idx != null) idx.reset()
      val b0 = System.nanoTime()
      idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float32).add(stored.toSeq)
      searcher = idx.pointSearcher(k)
      (System.nanoTime() - b0) / 1e9
    }
    report.put("stored_mb", Storage.bytes(spark) / 1e6, "MB")
    val w0 = System.nanoTime()
    (0 until 20).foreach(i => search(i, out, corrupt = false, None))
    check(idx.reconstruct(3L), 3, out)
    checkPending(out)
    val warmS = (System.nanoTime() - w0) / 1e9
    println(f"[perfbench] knn-serve set-up: generate $genS%.2f s, build ${builds.map(b => f"$b%.2f").mkString("/")} s, warm-up $warmS%.2f s")
    genS + Stats.median(builds) + warmS
  }

  private def search(qi: Int, out: Outcome, corrupt: Boolean, trace: Option[Trace]): Double = {
    val q = queries(qi % queries.length)
    val t0 = System.nanoTime()
    val got0 = trace match {
      case Some(t) => t.op("index.point_search", Map("ntotal" -> idx.ntotal.toDouble))(searcher.search(q))
      case None => searcher.search(q)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    pending += ((qi, idx.ntotal.toInt, if (corrupt) Corrupt.swap(got0) else got0))
    ms
  }

  /** Searches are checked after the loop, on every core, so the brute force
    * neither slows the loop nor competes with a timed call. */
  private val pending = ArrayBuffer.empty[(Int, Int, Array[(Long, Double)])]

  private def checkPending(out: Outcome): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val snapshot = stored.toIndexedSeq
      val fs = pending.toSeq.map { case (qi, n, got) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val want = BruteForce.search(snapshot, n, queries(qi % queries.length), k, Metric.L2)
            out.record(BruteForce.agrees(got, want, asFloat = false), s"point search q$qi at ntotal $n")
          }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    pending.clear()
  }

  private def check(v: Array[Float], id: Int, out: Outcome): Unit =
    out.record(java.util.Arrays.equals(v, stored(id)), s"reconstruct($id) is not bit-exact")

  def measure(spark: SparkSession, o: Opts, trace: Trace, out: Outcome, report: Report): Unit = {
    val tr = Some(trace).filter(_.enabled)
    val searchMs = ArrayBuffer.empty[Double]
    val writeMs = ArrayBuffer.empty[Double]
    val lookupMs = ArrayBuffer.empty[Double]
    val partitions = ArrayBuffer.empty[Double]
    val firstAfterWrite = ArrayBuffer.empty[Double]
    var corrupt = o.corrupt
    var qi = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (searchMs.size < minSearches || elapsed < o.seconds) {
      (0 until searchesPerCycle).foreach { i =>
        searchMs += search(qi, out, corrupt, tr); qi += 1; corrupt = false
        if (i == 0 && writeMs.nonEmpty) firstAfterWrite += searchMs.last
      }
      val id = rnd.nextInt(idx.ntotal.toInt)
      val l0 = System.nanoTime()
      val v = tr.fold(idx.reconstruct(id.toLong))(_.op("index.reconstruct")(idx.reconstruct(id.toLong)))
      lookupMs += (System.nanoTime() - l0) / 1e6
      check(v, id, out)
      val fresh = mix.draw(addBatch)
      val w0 = System.nanoTime()
      val before = idx.ntotal
      tr.fold(idx.add(fresh.toSeq))(_.op("index.add")(idx.add(fresh.toSeq)))
      searcher.close()
      searcher = tr.fold(idx.pointSearcher(k))(_.op("index.prepare")(idx.pointSearcher(k)))
      writeMs += (System.nanoTime() - w0) / 1e6
      stored ++= fresh
      out.record(idx.ntotal == before + addBatch && idx.ntotal == stored.size,
        s"ntotal ${idx.ntotal} after add, expected ${stored.size}")
      partitions += idx.vectors.rdd.getNumPartitions
    }
    checkPending(out)
    // one client in a closed loop: its rate is calls over the time spent in calls
    val calls = searchMs.size + lookupMs.size + writeMs.size
    val wall = (searchMs.sum + lookupMs.sum + writeMs.sum) / 1e3
    report.put("search_p50_ms", Stats.median(searchMs.toSeq), "ms")
    report.put("search_p95_ms", Stats.quantile(searchMs.toSeq, 0.95), "ms")
    report.put("search_p99_ms", Stats.quantile(searchMs.toSeq, 0.99), "ms")
    report.put("serve_ops_per_s", calls / wall, "1/s")
    report.put("write_p50_ms", Stats.median(writeMs.toSeq), "ms")
    report.put("lookup_p50_ms", Stats.median(lookupMs.toSeq), "ms")
    if (firstAfterWrite.nonEmpty)
      report.put("search_after_write_p50_ms", Stats.median(firstAfterWrite.toSeq), "ms")
    report.put("searches", searchMs.size, "count")
    report.put("index.partitions.first_add", partitions.head, "count")
    report.put("index.partitions.last_add", partitions.last, "count")
    println(s"[perfbench] index partitions after each add: ${partitions.map(_.toInt).mkString(",")}")
    report.put("ops_per_s", calls / wall, "1/s")
    report.put("typical_ms", Stats.median(searchMs.toSeq), "ms")
    report.put("tail_ms", Stats.quantile(searchMs.toSeq, 0.99), "ms")
  }

  def traced(trace: Trace, report: Report): Unit = {
    val st = trace.opStats
    def of(op: String) = st.filter(_.span.name == op)
    val ps = of("index.point_search")
    if (ps.nonEmpty) {
      val n = ps.size.toDouble
      report.put("index.point_search.ms", Stats.median(ps.map(_.wallMs)), "ms")
      report.put("index.point_search.jobs_per_call", ps.map(_.jobs).sum / n, "count")
      report.put("index.point_search.tasks_per_call", ps.map(_.sums.tasks).sum / n, "count")
      report.put("index.point_search.scheduler_delay_ms", ps.map(_.sums.schedDelayMs).sum / n, "ms")
      report.put("index.point_search.task_deser_ms", ps.map(_.sums.deserMs).sum / n, "ms")
    }
    Seq("index.add", "index.prepare", "index.reconstruct").foreach { op =>
      val xs = of(op)
      if (xs.nonEmpty) {
        report.put(s"$op.ms", Stats.median(xs.map(_.wallMs)), "ms")
        report.put(s"$op.jobs_per_call", xs.map(_.jobs).sum / xs.size.toDouble, "count")
      }
    }
  }
}
