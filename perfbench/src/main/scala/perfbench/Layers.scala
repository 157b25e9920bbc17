package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{dequantizeF16, minhashSignature, quantizeF16, squaredL2, wordShingles}
import graft.operators.TopKBuffer

/** Layer benchmarks that need no trace: the codegen expressions of
  * `graft.functions`, each timed as a projection over a cached in-memory
  * frame written to the noop sink, and `graft.operators.TopKBuffer` as a
  * plain JVM loop. Each figure is the median of five timings. */
object Layers {
  private val Reps = 5

  private def nsPer(elems: Double)(body: => Unit): Double = {
    body // warm: codegen and JIT
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / elems
    })
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def measure(spark: SparkSession, o: Opts, report: Report): Unit = {
    val rows = if (o.tiny) 2000 else 40000
    val d = 128
    val mix = new Mixture(d, o.seed, unitNorm = false)
    val q = mix.draw(1).head
    val vecs = spark.createDataFrame(mix.draw(rows).toSeq.map(Tuple1(_))).toDF("vec")
      .repartition(Runtime.getRuntime.availableProcessors())
      .persist(StorageLevel.MEMORY_ONLY)
    vecs.count()
    val elems = rows.toDouble * d
    report.put("functions.squared_l2.ns_per_elem",
      nsPer(elems)(noop(vecs.select(squaredL2(col("vec"), typedLit(q))))), "ns")
    report.put("functions.quantize_f16.ns_per_elem",
      nsPer(elems)(noop(vecs.select(quantizeF16(col("vec"))))), "ns")
    val halves = vecs.select(quantizeF16(col("vec")).as("vech")).persist(StorageLevel.MEMORY_ONLY)
    halves.count()
    report.put("functions.dequantize_f16.ns_per_elem",
      nsPer(elems)(noop(halves.select(dequantizeF16(col("vech"))))), "ns")

    val docs = spark.read.parquet(s"${o.dataDir}/documents.parquet")
      .select(split(lower(col("text")), "\\s+").as("tokens"))
    val tokens = (if (o.tiny) docs.limit(500) else docs).persist(StorageLevel.MEMORY_ONLY)
    val nTok = tokens.select(sum(size(col("tokens")))).head().getLong(0).toDouble
    report.put("functions.word_shingles.ns_per_elem",
      nsPer(nTok)(noop(tokens.select(wordShingles(col("tokens"), 3)))), "ns")
    val shingles = tokens.select(wordShingles(col("tokens"), 3).as("sh")).persist(StorageLevel.MEMORY_ONLY)
    val nSh = shingles.select(sum(size(col("sh")))).head().getLong(0).toDouble
    report.put("functions.minhash_signature.ns_per_elem",
      nsPer(nSh)(noop(shingles.select(minhashSignature(col("sh"), 8)))), "ns")
    Seq(vecs, halves, tokens, shingles).foreach(_.unpersist(blocking = true))

    val n = if (o.tiny) 200000 else 2000000
    val rnd = new java.util.Random(o.seed)
    val scores = Array.fill(n)(rnd.nextDouble())
    Seq(10, 100).foreach { k =>
      val ns = nsPer(n) {
        val b = new TopKBuffer(k, ascending = true)
        var i = 0
        while (i < n) { b.insert(scores(i), i.toLong); i += 1 }
        if (b.size != k) throw new IllegalStateException("TopKBuffer lost entries")
      }
      report.put(s"operators.topk_buffer.ns_per_insert.k$k", ns, "ns")
    }
  }
}

/** Per-layer figures from the trace, common to every workload. */
object TraceMetrics {
  def report(trace: Trace, report: Report): Unit = {
    val st = trace.opStats
    val (jobs, stages, s) = trace.totals
    val n = math.max(st.size, 1).toDouble
    val wallMs = st.map(_.wallMs).sum
    val gapMs = st.map(_.driverGapMs).sum
    report.put("call.ms", if (st.isEmpty) 0 else Stats.median(st.map(_.wallMs)), "ms")
    report.put("call.jobs_per_call", jobs / n, "count")
    report.put("call.tasks_per_call", s.tasks / n, "count")
    report.put("call.driver_gap_ms", gapMs / n, "ms")
    report.put("call.executor_cpu_ms", s.cpuMs / n, "ms")
    report.put("spark.jobs", jobs, "count")
    report.put("spark.stages", stages, "count")
    report.put("spark.tasks", s.tasks.toDouble, "count")
    report.put("spark.driver_gap_frac", if (wallMs > 0) gapMs / wallMs else 0, "fraction")
    report.put("spark.scheduler_delay_s", s.schedDelayMs / 1e3, "s")
    report.put("spark.task_deser_s", s.deserMs / 1e3, "s")
    report.put("spark.task_cpu_over_run", if (s.runMs > 0) s.cpuMs / s.runMs else 0, "fraction")
    report.put("spark.gc_s", s.gcMs / 1e3, "s")
    report.put("spark.shuffle_read_mb", s.shuffleReadB / 1e6, "MB")
    report.put("spark.shuffle_write_mb", s.shuffleWriteB / 1e6, "MB")
    report.put("spark.spill_mb", s.spillB / 1e6, "MB")
    report.put("spark.tasks_failed", s.failed.toDouble, "count")
  }
}
