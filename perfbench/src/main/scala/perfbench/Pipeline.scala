package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.tools.Canon

/** `pipeline`: declared `SparkEntry.queries` over the benchmark's copy of the
  * test tables, each written to the noop sink. The Spark runtime and
  * `graft.ops` do the work; vector kernels do almost none. Iterative
  * (fixpoint) queries and one-pass queries are reported apart, so a change
  * that speeds up one group and slows the other still shows. */
final class Pipeline extends Workload {

  private var dir = ""
  private var groups: Seq[(String, Seq[String])] = Nil
  private var rnd: java.util.Random = _
  private var orderSeed = 0L

  /** The data are fixed; the seed sets the order of every pass. */
  def inputDigest: String = s"$dir order seed $orderSeed"

  private def consume(spark: SparkSession, q: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()

  /** Cached blocks a query leaves behind are dead once it returns. */
  private def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  def setup(spark: SparkSession, o: Opts, out: Outcome, report: Report): Double = {
    dir = Paths.get(o.dataDir).toAbsolutePath.toString
    groups = Pipeline.groups(o.tiny)
    rnd = new java.util.Random(o.seed ^ 0x706970)
    val pins = Pipeline.readPins(Paths.get(o.dataDir).resolve(Pipeline.PinsFile))
    val t0 = System.nanoTime()
    // every table the queries read, resolved once (the footer reads a
    // catalog would do at start-up)
    Pipeline.Tables.foreach(t => graft.Tables(spark, dir, t))
    // untimed warm-up pass: each query runs once and its result is hashed
    // and compared with the pin taken on the same data
    orderSeed = rnd.nextLong()
    new scala.util.Random(orderSeed).shuffle(groups.flatMap(_._2)).foreach { q =>
      val h = try Canon.hash(SparkEntry.queries(q)(spark, dir)) catch {
        case e: Throwable => s"error: $e"
      }
      release(spark)
      out.record(pins.get(q).contains(h), s"$q hash $h != pin ${pins.getOrElse(q, "missing")}")
    }
    (System.nanoTime() - t0) / 1e9
  }

  def measure(spark: SparkSession, o: Opts, trace: Trace, out: Outcome, report: Report): Unit = {
    val groupOf = groups.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap
    val wall = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    // at least two passes: the first pass after the warm-up still runs
    // partly cold (JIT), so each query's figure is its fastest pass
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val order = new scala.util.Random(rnd.nextLong()).shuffle(groupOf.keys.toSeq.sorted)
      val pass = order.map { q =>
        val q0 = System.nanoTime()
        val ok = try {
          if (trace.enabled) trace.op("ops.query", tags = Map("query" -> q, "group" -> groupOf(q)))(consume(spark, q))
          else consume(spark, q)
          true
        } catch { case e: Throwable => System.err.println(s"[perfbench] $q failed: $e"); false }
        val s = (System.nanoTime() - q0) / 1e9
        release(spark)
        out.record(ok, s"$q failed")
        wall(q) :+= s
        q -> s
      }.toMap
      passes += pass
      println(s"[perfbench] pass ${passes.size}: " + groups.map { case (g, qs) => f"$g ${qs.map(pass).sum}%.2f s" }.mkString(", ") +
        " | " + order.map(q => f"$q ${pass(q)}%.2f").mkString(" "))
    }
    val best = groupOf.keys.map(q => q -> wall(q).min).toMap
    groups.foreach { case (g, qs) => report.put(s"${g}_s", qs.map(best).sum, "s") }
    report.put("passes", passes.size, "count")
    report.put("ops_per_s", best.size / best.values.sum, "1/s")
    report.put("typical_ms", Stats.geomean(best.values.toSeq) * 1e3, "ms")
    report.put("tail_ms", best.values.max * 1e3, "ms")
    best.toSeq.sorted.foreach { case (q, s) => report.put(s"ops.$q.wall_s", s, "s") }
  }

  def traced(trace: Trace, report: Report): Unit = {
    trace.opStats.filter(_.span.name == "ops.query").groupBy(_.span.tags("query"))
      .toSeq.sortBy(_._1).foreach { case (q, xs) =>
        val n = xs.size.toDouble
        report.put(s"ops.$q.jobs", xs.map(_.jobs).sum / n, "count")
        report.put(s"ops.$q.driver_gap_s", xs.map(_.driverGapMs).sum / n / 1e3, "s")
        report.put(s"ops.$q.shuffle_mb", xs.map(x => x.sums.shuffleReadB).sum / n / 1e6, "MB")
      }
  }
}

object Pipeline {
  /** The benchmark's pins: `Canon.hash` of each query on the data directory. */
  val PinsFile = "pins.json"

  /** Tables the queries read. */
  val Tables: Seq[String] = Seq("lineitem", "part", "documents", "embeddings")

  def groups(tiny: Boolean): Seq[(String, Seq[String])] =
    if (!tiny) Seq(
      "iterative" -> Seq("q_pagerank", "q_coreness"),
      "onepass" -> Seq("dedup_minhash", "text_winnowing", "q_corr_stats", "knn_l2_gemm",
        "q1_pricing_summary"))
    else Seq(
      "iterative" -> Seq("q_pagerank"),
      "onepass" -> Seq("q1_pricing_summary"))

  /** Flat `{"query": "cols|md5", ...}` JSON, as `Main --pins` writes it. */
  def readPins(p: java.nio.file.Path): Map[String, String] = {
    val s = new String(Files.readAllBytes(p), UTF_8)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }
}
