package graftbench

import java.io.File

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** One closed-loop workload driven by a single client. Every op has the
  * same shape and runs against the same amount of state. */
trait Workload {
  /** Generates the inputs from `seed`, builds the state under `dir` and
    * warms up (codegen, caches) — everything counted as set-up time.
    * With a probe (traced runs) it also records per-layer numbers of the
    * build, returned by [[setupLayers]]. */
  def setup(spark: SparkSession, seed: Long, dir: String, probe: Option[Probe]): Unit

  /** Per-layer numbers of the traced set-up. */
  def setupLayers: Map[String, Double] = Map.empty

  /** Untimed step before op `k` (e.g. removing the bucket it rewrites). */
  def prepare(k: Int): Unit = ()

  /** The timed op; returns the input rows it completed. */
  def op(k: Int, tr: Tracer): Long

  /** Untimed check of op `k`'s result; false marks the op failed. */
  def check(k: Int): Boolean

  /** Bytes of persistent state (sink/store data files). */
  def stateBytes: Long

  /** Per-layer numbers of one traced op; run untimed after the op. */
  def layers(k: Int, sp: OpSpark, tr: Tracer): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "pit_lookup" => new PitLookup
    case "backfill"   => new Backfill
    case "curation"   => new Curation
    case other        => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-free checksum of rows: sum of 32-bit row hashes (no overflow
    * below 2^31 rows, unlike a sum of full 64-bit hashes). */
  def hashSum(cols: Column*): Column =
    sum(xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFL)))

  /** Data files (`part-*`) under `dir`. */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f)
      else Nil
    walk(new File(dir))
  }

  def dataBytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  /** Milliseconds of `body`. */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Per-row cost (ns) of a column kernel over a cached frame: the
    * median over `reps` of (kernel job − baseline job) / rows. The
    * baseline job scans the same rows and sums their text lengths. */
  def kernelNsPerRow(
      df: org.apache.spark.sql.DataFrame,
      rows: Long,
      kernel: Column,
      baseline: Column,
      reps: Int = 3): Double = {
    val diffs = (0 until reps).map { _ =>
      val (_, tk) = timeMs(df.agg(sum(xxhash64(kernel))).collect())
      val (_, tb) = timeMs(df.agg(sum(baseline)).collect())
      (tk - tb) * 1e6 / rows
    }
    Stats.median(diffs)
  }

  /** Per-layer numbers of one `Materializer.materialize` call whose new
    * buckets landed under `writtenDir`. The call is cut at its SQL
    * executions: the
    * first is the enumeration scan, the last the stats job (followed by
    * the manifest commit), and those between are the bucket write. The
    * feature windows run in the write's result stages, after the sort. */
  def materializeLayers(sp: OpSpark, startMs: Long, callMs: Double,
      report: graft.materialize.Materializer.Report, writtenDir: String): Map[String, Double] = {
    val execs = sp.jobs.groupBy(_.execId).values.toSeq.sortBy(_.map(_.startMs).min)
    val writeExecs = execs.drop(1).dropRight(1).flatten
    val (enumerate, write) =
      if (writeExecs.isEmpty) (0.0, 0.0)
      else {
        val enumEnd = execs.head.map(_.endMs).max
        ((enumEnd - startMs).toDouble, (execs.last.map(_.startMs).min - enumEnd).toDouble)
      }
    val windowStages = writeExecs.flatMap(_.stageIds).toSet -- sp.stageShuffle.keySet
    val windowed = sp.plans.filter(p => Probe.windows(p).nonEmpty)
    val sortMs = windowed.flatMap(Probe.sorts).map(Probe.metric(_, "sortTime")).sum
    val files = dataFiles(writtenDir)
    Map(
      "materialize.enumerate_ms" -> enumerate,
      "materialize.write_ms" -> write,
      "materialize.commit_ms" -> (callMs - enumerate - write),
      "materialize.bytes_written" -> files.map(_.length).sum.toDouble,
      "materialize.files_written" -> files.size.toDouble,
      "materialize.buckets_written" -> report.completed.toDouble,
      "materialize.buckets_skipped" -> report.skipped.toDouble,
      "features.window_ms" -> math.max(0.0,
        sp.tasks.filter(t => windowStages.contains(t.stageId)).map(_.runMs).sum - sortMs.toDouble),
      "features.rows" -> windowed.flatMap(Probe.hashExchanges)
        .map(Probe.metric(_, "shuffleRecordsWritten")).sum.toDouble)
  }
}
