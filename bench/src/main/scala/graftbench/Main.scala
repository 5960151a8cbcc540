package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Benchmark entry point. One run in a fresh JVM: set up once (session
  * start, input generation, build, warm-up = `setup_s`), then run the
  * workload's ops in a closed loop for `--seconds`, checking every op. Prints one JSON result as the last
  * stdout line: end-to-end metrics with `--trace 0`, per-layer metrics
  * with `--trace 1` (even ops untraced, odd ops traced, so
  * `trace.overhead_pct` compares the two under the same conditions).
  *
  * usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  */
object Main {
  /** Spark cores: the processors the JVM sees, which `run.py` fixes with
    * `-XX:ActiveProcessorCount` (so GC and JIT threads shrink with it). */
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val w = Workload(name)

    val calibBefore = Calibration.burnMs()
    val setupTicks0 = Calibration.cpuTicks()
    val setup0 = System.nanoTime()
    val spark = session(work)
    val probe = if (traced) Some(new Probe(spark)) else None
    w.setup(spark, seed, s"$work/data", probe)
    val setupRawS = (System.nanoTime() - setup0) / 1e9
    val setupS = setupRawS * (1 - Calibration.stolenShare(setupTicks0, Calibration.cpuTicks()))

    val tracer = new Tracer
    val setupHeapMb = Heap.liveMb()
    val bytesBefore = w.stateBytes
    val lat = scala.collection.mutable.ArrayBuffer[(Int, Double)]() // net of stolen time
    val rawLat = scala.collection.mutable.ArrayBuffer[Double]()
    val layerSamples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val sparkSamples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var failed = 0
    var rows = 0L
    var cpuNs = 0L
    var opNs = 0.0
    var rawOpNs = 0L
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum

    val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cpuTicks0 = Calibration.cpuTicks()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < deadline) {
      w.prepare(k)
      val traceOp = traced && k % 2 == 1
      tracer.enabled = traceOp
      tracer.op = k
      val gc0 = gcMs
      val c0 = osBean.getProcessCpuTime
      val ticks0 = Calibration.cpuTicks()
      val t0 = System.nanoTime()
      probe.filter(_ => traceOp).foreach(_.begin())
      val ok = try {
        rows += tracer.span("op")(w.op(k, tracer))
        val sp = probe.filter(_ => traceOp).map(_.end())
        val dt = System.nanoTime() - t0
        val netNs = dt * (1 - Calibration.stolenShare(ticks0, Calibration.cpuTicks()))
        cpuNs += osBean.getProcessCpuTime - c0
        opNs += netNs
        rawOpNs += dt
        lat += (k -> netNs / 1e6)
        rawLat += dt / 1e6
        sp.foreach { s =>
          sparkSamples += Map(
            "spark.jobs_per_op" -> s.jobs.size.toDouble,
            "spark.tasks_per_op" -> s.tasks.size.toDouble,
            "spark.task_ms_per_op" -> s.taskMs.toDouble,
            "spark.shuffle_write_bytes_per_op" -> s.shuffleWrite.toDouble,
            "spark.spill_bytes_per_op" -> s.spill.toDouble,
            "spark.gc_ms_per_op" -> (gcMs - gc0).toDouble,
            "spark.failed_tasks" -> s.failedTasks.toDouble)
          layerSamples += w.layers(k, s, tracer)
        }
        w.check(k)
      } catch {
        case e: Exception =>
          System.err.println(s"op $k failed: $e")
          false
      }
      tracer.enabled = false
      if (!ok) failed += 1
      k += 1
    }
    val heapMb = math.max(setupHeapMb, Heap.liveMb())
    val stealPct = Calibration.stealPct(cpuTicks0, Calibration.cpuTicks())
    val attempted = k
    val steady = w.stateBytes == bytesBefore
    if (!steady) System.err.println(s"state bytes changed: $bytesBefore -> ${w.stateBytes}")
    probe.foreach(_.close())
    val calibAfter = Calibration.burnMs()

    val allMs = lat.map(_._2).toSeq
    val (firstHalf, secondHalf) = allMs.splitAt(allMs.size / 2)
    val context = Map(
      "workload" -> name, "seed" -> seed, "ops" -> attempted, "cpus" -> Cpus,
      "setup_s" -> setupS, "raw_setup_s" -> setupRawS,
      "raw_rows_per_s" -> rows / (rawOpNs / 1e9),
      "raw_op_p50_ms" -> Stats.quantile(rawLat.toSeq, 0.5),
      "raw_op_p90_ms" -> Stats.quantile(rawLat.toSeq, 0.9),
      "half_drift_pct" -> (Stats.median(secondHalf) / Stats.median(firstHalf) - 1) * 100,
      "calibration_before_ms" -> calibBefore, "calibration_after_ms" -> calibAfter,
      "host_steal_pct" -> stealPct,
      "codegen_compiles" -> (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
      "state_bytes" -> bytesBefore, "state_steady" -> steady)
    println("context " + context.map { case (k2, v) => s""""$k2":"$v"""" }.mkString("{", ",", "}"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", rows / (opNs / 1e9), "1/s"),
          ("op_p50_ms", Stats.quantile(allMs, 0.5), "ms"),
          ("op_p90_ms", Stats.quantile(allMs, 0.9), "ms"),
          ("cpu_ms_per_op", cpuNs / 1e6 / math.max(1, lat.size), "ms"),
          ("peak_heap_mb", heapMb, "MB"))
      } else {
        val untraced = lat.collect { case (i, ms) if i % 2 == 0 => ms }.toSeq
        val tracedMs = lat.collect { case (i, ms) if i % 2 == 1 => ms }.toSeq
        val layer = (layerSamples ++ sparkSamples).flatMap(_.toSeq).groupBy(_._1).map {
          case ("spark.failed_tasks", vs) => "spark.failed_tasks" -> vs.map(_._2).sum
          case (n, vs)                    => n -> Stats.median(vs.map(_._2).toSeq)
        }
        val names = LayerMetrics.Names ++
          (if (name == "curation") LayerMetrics.CurationNames else Nil)
        val all = names.map(n => n -> 0.0).toMap ++ w.setupLayers ++ layer ++ Map(
          "trace.overhead_pct" -> (Stats.median(tracedMs) / Stats.median(untraced) - 1) * 100)
        names.map(n => (n, all(n), LayerMetrics.unit(n)))
      }
    if (traced)
      tracer.writeJsonl(java.nio.file.Paths.get(work, "..", "traces", s"$name-$seed.jsonl").normalize)

    spark.stop()
    val ok = failed == 0 && steady
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":${body.mkString("{", ",", "}")}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def session(work: String): SparkSession = {
    val s = GraftSession.builder("graftbench")
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Spark's status store keeps up to 1000 jobs, stages and SQL
      // executions by default; each op adds several, so the store (and the
      // listener's work per event) would grow through the whole run. Small
      // caps reach their steady size during warm-up.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Host context for comparing runs: a fixed single-thread CPU burn,
  * whose wall time depends only on the cycles the host delivers, and the
  * share of CPU time the hypervisor stole (Linux `/proc/stat`). */
object Calibration {
  /** Aggregate CPU tick counters of `/proc/stat` (empty if unreadable). */
  def cpuTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq finally src.close()
    } catch { case _: Exception => Nil }

  /** The share of the CPU time the run wanted that the hypervisor stole
    * between two samples: steal / (busy + steal), busy being the user,
    * nice, system, irq and softirq ticks. The vCPUs this JVM keeps busy
    * ran for (1 - share) of the interval, so interval × (1 - share) is the
    * time the interval would have taken on an unshared host. */
  def stolenShare(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val busy = d(0) + d(1) + d(2) + d(5) + d(6)
      if (busy + d(7) <= 0) 0.0 else d(7).toDouble / (busy + d(7))
    }

  /** Stolen ticks (the 8th counter) as a percentage of all ticks between two samples. */
  def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total <= 0) 0.0 else 100.0 * d(7) / total
    }

  def burnMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) print("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Live heap: occupancy right after a full collection. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The per-layer metric names and units, in output order: `Names` is
  * the set every listed workload prints; the curation workload adds
  * `CurationNames`. */
object LayerMetrics {
  val Names: Seq[String] = Seq(
    "engine.plan_ms", "engine.yaml_apply_ms",
    "asof.exec_ms", "asof.exchanges", "asof.shuffle_bytes", "asof.sort_ms", "asof.window_ms",
    "asof.spill_bytes", "asof.rows_in", "asof.rows_out", "asof.task_skew", "asof.skew_splits",
    "features.window_ms", "features.rows",
    "materialize.enumerate_ms", "materialize.write_ms", "materialize.commit_ms",
    "materialize.bytes_written", "materialize.files_written",
    "materialize.buckets_written", "materialize.buckets_skipped",
    "functions.token_count_ns_per_row",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.task_ms_per_op",
    "spark.shuffle_write_bytes_per_op", "spark.spill_bytes_per_op", "spark.gc_ms_per_op",
    "spark.failed_tasks", "trace.overhead_pct")

  val CurationNames: Seq[String] = Seq(
    "dedup.minhash_ms", "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.verify_yield",
    "dedup.store_newdocs_ms", "dedup.store_neardups_ms",
    "functions.minhash_ns_per_doc", "functions.jaccard_ns_per_pair",
    "text.filter_ms", "pipeline.clean_ms", "pipeline.survivor_ratio")

  def unit(n: String): String = n match {
    case _ if n.endsWith("_ns_per_doc") || n.endsWith("_ns_per_pair") || n.endsWith("_ns_per_row") => "ns"
    case _ if n.endsWith("_ms") || n.endsWith("_ms_per_op") => "ms"
    case _ if n.endsWith("bytes") || n.endsWith("bytes_written") || n.endsWith("_bytes_per_op") => "bytes"
    case _ if n.endsWith("_pct") => "%"
    case "asof.task_skew" | "dedup.verify_yield" | "pipeline.survivor_ratio" => "ratio"
    case _ => "count"
  }
}
