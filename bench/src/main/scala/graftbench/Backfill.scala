package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.datagen.TranscriptGen
import graft.features.TranscriptFeatures
import graft.materialize.Materializer

/** Write path: a managed `Materializer` sink of windowed transcript
  * features over `Days` days. Each op first (untimed) removes one day's
  * bucket and manifest, then times one `Materializer.materialize` call:
  * the enumeration scan, the feature windows, one bucket write, the
  * stats job and the manifest commit, skipping the other buckets. */
final class Backfill extends Workload {
  import Backfill._

  private var spark: SparkSession = _
  private var seed = 0L
  private var sink = ""
  private var features: DataFrame = _
  private var buckets: IndexedSeq[String] = _
  private var expected: Map[String, (Long, Long)] = _ // bucket -> (rows, checksum)
  private var report: Materializer.Report = _
  private var day = ""
  private var opStartMs = 0L
  private var input = ""
  private var tokenCountNs = Option.empty[Double]

  def setup(spark: SparkSession, seed: Long, dir: String, probe: Option[Probe]): Unit = {
    this.spark = spark
    this.seed = seed
    sink = s"$dir/sink"
    input = s"$dir/turns.parquet"
    // one batch of conversations starting on each day, the same batch
    // shifted by a day each time; conv ids carry the day so the batches
    // stay distinct entities. No hot conversations: with 20-190 turns each
    // they made a day's row count, and so rows_per_s, depend on the seed.
    (0 until Days).map { d =>
      TranscriptGen.turns(spark, ConvsPerDay, AvgTurns, 0, 1, seed,
        StartEpochSec + d * 86400L)
        .withColumn("conv_id", concat(col("conv_id"), lit(s"_d$d")))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(input)
    val turns = spark.read.parquet(input)
    val order = Seq(col("ts"), col("turn_idx"))
    features = TranscriptFeatures.rollingTurnCount(
      TranscriptFeatures.sessionize(TranscriptFeatures.turnFeaturesNarrow(turns),
        Seq("conv_id"), "ts", 1800L, order),
      Seq("conv_id"), "ts", 3600L)

    Materializer.materialize(spark, features, "ts", sink)
    expected = spark.read.parquet(sink)
      .groupBy(col("bucket").cast("string"))
      .agg(count(lit(1)), Workload.hashSum(features.columns.toSeq.map(col): _*))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Each day bucket holds its own batch plus the previous batch's turns
    // past midnight, so the interior days hold the same rows. Ops rotate
    // over the buckets with that most common row count, so every op does
    // the same work; the first day (no spill-in) and a spill-only day
    // after the last are left out when they differ.
    val rows = expected.values.map(_._1).groupBy(identity).maxBy(_._2.size)._1
    buckets = expected.collect { case (b, (n, _)) if n == rows => b }.toIndexedSeq.sorted
    require(buckets.size >= Days - 2,
      s"expected ${Days - 2}+ equal day buckets, got ${expected.map { case (b, v) => b -> v._1 }}")

    (0 until WarmupOps).foreach { k =>
      prepare(-1 - k)
      op(-1 - k, new Tracer)
      require(check(-1 - k), s"warm-up op $k failed its check")
    }
  }

  override def prepare(k: Int): Unit = {
    day = buckets(Math.floorMod(seed + k, buckets.size.toLong).toInt)
    Main.deleteTree(s"$sink/bucket=$day")
    Files.deleteIfExists(Paths.get(sink, "_manifests", s"$day.json"))
  }

  def op(k: Int, tr: Tracer): Long = {
    opStartMs = System.currentTimeMillis()
    report = tr.span("materialize.call")(Materializer.materialize(spark, features, "ts", sink))
    report.buckets.filterNot(_.skipped).map(_.rows).sum
  }

  def check(k: Int): Boolean = {
    val written = report.buckets.filterNot(_.skipped)
    val (rows, sum) = expected(day)
    written.map(_.bucket) == Seq(day) && written.head.rows == rows && {
      val back = spark.read.parquet(s"$sink/bucket=$day")
        .agg(count(lit(1)), Workload.hashSum(features.columns.toSeq.map(col): _*)).collect().head
      back.getLong(0) == rows && back.getLong(1) == sum
    }
  }

  def stateBytes: Long = Workload.dataBytes(sink)

  def layers(k: Int, sp: OpSpark, tr: Tracer): Map[String, Double] = {
    // the token-count kernel the narrow features call, over the input's
    // text; measured once per run
    val tokenNs = tokenCountNs.getOrElse {
      val text = spark.read.parquet(input).select("text").cache()
      val ns = Workload.kernelNsPerRow(text, text.count(),
        graft.functions.WhitespaceTokenCount(col("text")), length(col("text")))
      text.unpersist()
      tokenCountNs = Some(ns)
      ns
    }
    Workload.materializeLayers(sp, opStartMs, tr.selfMs(k, "materialize.call"), report,
      s"$sink/bucket=$day") + ("functions.token_count_ns_per_row" -> tokenNs)
  }
}

object Backfill {
  val Days = 5
  val ConvsPerDay = 300
  val AvgTurns = 10
  val StartEpochSec = 1704067200L // 2024-01-01T00:00:00Z
  val WarmupOps = 12
}
