package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Options every workload sees. `tiny` shrinks every size for the
  * benchmark's self-test; `corrupt` swaps two labels in one kNN result so
  * the self-test can prove the output check fires. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    tiny: Boolean,
    corrupt: Boolean,
    dataDir: String,
    outDir: Path)

/** One workload. Each puts its own figures and the `Contract` ones into the
  * report; every figure is printed and kept in the result file. */
trait Workload {
  /** Build the program's state and warm it. Returns the set-up seconds
    * beyond session start. */
  def setup(spark: SparkSession, o: Opts, out: Outcome, report: Report): Double
  /** Closed loop, one client, for `o.seconds`. */
  def measure(spark: SparkSession, o: Opts, trace: Trace, out: Outcome, report: Report): Unit
  /** Workload-specific figures from the traced run. */
  def traced(trace: Trace, report: Report): Unit
  /** Fingerprint of the generated inputs, so a self-test can see a seed change them. */
  def inputDigest: String
}

/** The metrics the final JSON line carries, as `BENCHMARK.json` lists them:
  * every end-to-end metric without tracing, every per-layer metric with it.
  * Each workload fills the same names; the doc gives each one's meaning
  * per workload. */
object Contract {
  val endToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "typical_ms")
  val perLayer: Seq[String] = Seq(
    "functions.squared_l2.ns_per_elem", "functions.quantize_f16.ns_per_elem",
    "functions.dequantize_f16.ns_per_elem", "functions.word_shingles.ns_per_elem",
    "functions.minhash_signature.ns_per_elem",
    "operators.topk_buffer.ns_per_insert.k10", "operators.topk_buffer.ns_per_insert.k100",
    "call.ms", "call.jobs_per_call", "call.tasks_per_call", "call.driver_gap_ms",
    "call.executor_cpu_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_frac",
    "spark.scheduler_delay_s", "spark.task_deser_s", "spark.task_cpu_over_run", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "trace.overhead_frac")
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "knn-batch" -> (() => new KnnBatch),
    "knn-serve" -> (() => new KnnServe),
    "pipeline" -> (() => new Pipeline))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --data <dir> --out <dir> [--tiny] [--corrupt]")
    sys.exit(2)
  }

  def parse(args: Array[String]): Opts = {
    val flags = Set("--tiny", "--corrupt")
    val kv = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (flags(a)) { kv(a) = "1"; i += 1 }
      else if (a.startsWith("--") && i + 1 < args.length) { kv(a) = args(i + 1); i += 2 }
      else usage(s"unexpected argument '$a'")
    }
    def need(k: String) = kv.getOrElse(k, usage(s"missing $k"))
    val w = need("--workload")
    if (!Workloads.contains(w)) usage(s"unknown workload '$w'")
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got '$t'")
    }
    Opts(w, need("--seed").toLong, need("--seconds").toDouble, trace,
      kv.contains("--tiny"), kv.contains("--corrupt"), need("--data"),
      Paths.get(need("--out")))
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Where a run's wall goes, phase by phase, on stdout. */
  private def phase(name: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $name")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.outDir)
    val host = Host.snapshot()
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = Session.build(cpus, o.outDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    phase("session started")

    val wl = Workloads(o.workload)()
    val out = new Outcome
    val report = new Report
    val ok = try {
      val built = wl.setup(spark, o, out, report)
      report.put("setup_s", sessionS + built, "s")
      phase("set-up done")
      val trace = new Trace(spark.sparkContext, o.trace)
      val w0 = System.nanoTime()
      wl.measure(spark, o, trace, out, report)
      val wallNs = System.nanoTime() - w0
      phase("measured and checked")
      trace.drain()
      if (o.trace) {
        report.put("trace.overhead_frac", trace.overheadNs.toDouble / wallNs, "fraction")
        TraceMetrics.report(trace, report)
        wl.traced(trace, report)
        Layers.measure(spark, o, report)
        val spans = trace.spans
        Files.write(o.outDir.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl"),
          spans.map(Trace.spanJson).mkString("", "\n", "\n").getBytes(UTF_8))
        println(s"[perfbench] wrote ${spans.size} spans")
      }
      trace.close()
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${o.workload} aborted: $e")
        e.printStackTrace()
        false
    }
    val hostAfter = Host.snapshot()
    report.put("failed_frac", out.failedFrac, "fraction")
    out.failures.foreach(f => println(s"[perfbench] check failed: $f"))
    report.all.foreach { case (n, v, u) =>
      println(f"metric ${n}%-48s ${Json.num(v)}%18s $u")
    }
    val hostJson = Host.json(host, hostAfter, cpus, spark)
    val artifact =
      s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"seconds":${Json.num(o.seconds)},""" +
      s""""trace":${o.trace},"tiny":${o.tiny},"inputs":${Json.str(wl.inputDigest)},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},"host":$hostJson,""" +
      s""""metrics":${report.metricsJson(report.all.map(_._1))}}"""
    Files.write(o.outDir.resolve(s"result-${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      (artifact + "\n").getBytes(UTF_8))
    println(s"[perfbench] inputs ${wl.inputDigest}")
    spark.stop()
    phase("session stopped")
    if (!ok) sys.exit(1)
    val names = if (o.trace) Contract.perLayer else Contract.endToEnd
    val missing = names.filterNot(n => report.get(n).isDefined)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] metrics not measured: ${missing.mkString(", ")}")
      sys.exit(1)
    }
    val correct = out.failed == 0 && out.attempted > 0
    println(s"""{"correct":$correct,"attempted":${math.max(out.attempted, 1)},"failed":${out.failed},""" +
      s""""metrics":${report.metricsJson(names)}}""")
  }
}

/** The Spark session, with the settings `graft.Bench` uses (no shared
  * session builder exists in the program yet). Scratch space stays inside
  * the benchmark's output directory. */
object Session {
  def build(cpus: Int, outDir: Path): SparkSession = {
    val local = outDir.resolve("spark-local").toAbsolutePath.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", outDir.resolve("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Facts about the box, recorded in every artifact. */
object Host {
  final case class Snap(cpuMax: String, cpuStat: Map[String, Long])

  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), UTF_8).trim)
    catch { case _: Throwable => None }

  def snapshot(): Snap = Snap(
    read("/sys/fs/cgroup/cpu.max").getOrElse("absent"),
    read("/sys/fs/cgroup/cpu.stat").map(_.split("\n").toSeq.flatMap { l =>
      l.split(" ") match {
        case Array(k, v) if v.forall(_.isDigit) => Some(k -> v.toLong)
        case _ => None
      }
    }.toMap).getOrElse(Map.empty))

  private def gitCommit: String =
    sys.env.get("PERFBENCH_COMMIT").filter(_.nonEmpty).getOrElse("absent")

  def json(before: Snap, after: Snap, cpus: Int, spark: SparkSession): String = {
    val throttle =
      if (before.cpuStat.isEmpty || after.cpuStat.isEmpty) "\"absent\""
      else Seq("nr_periods", "nr_throttled", "throttled_usec").map { k =>
        s"${Json.str(k)}:${after.cpuStat.getOrElse(k, 0L) - before.cpuStat.getOrElse(k, 0L)}"
      }.mkString("{", ",", "}")
    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k == "spark.driver.port" ||
        k.startsWith("spark.executor.id") || k == "spark.driver.host" }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"nproc":$cpus,"master":${Json.str(spark.sparkContext.master)},""" +
      s""""cgroup_cpu_max":${Json.str(before.cpuMax)},"cgroup_throttle_delta":$throttle,""" +
      s""""max_heap_bytes":${Runtime.getRuntime.maxMemory},""" +
      s""""jvm":${Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))},""" +
      s""""git_commit":${Json.str(gitCommit)},"spark_conf":$conf}"""
  }
}

/** Prints the pins file for the pipeline: `Canon.hash` of every pipeline
  * query on a data directory. Usage: Pins <dataDir> */
object Pins {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0)).toAbsolutePath.toString
    val outDir = java.nio.file.Files.createTempDirectory("perfbench-pins")
    val spark = Session.build(Runtime.getRuntime.availableProcessors(), outDir)
    val lines = Pipeline.groups(tiny = false).flatMap(_._2).sorted.map { q =>
      val h = graft.tools.Canon.hash(graft.SparkEntry.queries(q)(spark, dir))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      s"  ${Json.str(q)}: ${Json.str(h)}"
    }
    spark.stop()
    println(lines.mkString("{\n", ",\n", "\n}"))
  }
}
