package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.asof.AsOfJoin
import graft.datagen.TranscriptGen
import graft.engine.FeatureEngine
import graft.features.TranscriptFeatures
import graft.materialize.Materializer

/** Read path: one `FeatureEngine.retrieve` of a fixed-size probe batch
  * against a three-view feature service, consumed by a checksum
  * aggregate. Feature rows outnumber probe rows many times over, so the
  * feature-side exchange, the as-of window and per-request planning do
  * the work; nothing is written. */
final class PitLookup extends Workload {
  import PitLookup._

  private var spark: SparkSession = _
  private var engine: FeatureEngine = _
  private var seed = 0L
  private var dir = ""
  private var pool: Array[Row] = _ // (probe_id, conv_id, event_timestamp), probe_id = index
  private var refHash: Array[Long] = _ // reference row hash per probe_id
  private var last: Row = _
  private var lastIdx: Array[Int] = _
  private var lastAgg: DataFrame = _
  private var yamlApplyMs = 0.0
  private var setupLayersAcc = Map.empty[String, Double]

  /** The traced set-up's three view materializations, summed. */
  override def setupLayers: Map[String, Double] = setupLayersAcc

  def setup(spark: SparkSession, seed: Long, dir: String, probe: Option[Probe]): Unit = {
    this.spark = spark
    this.seed = seed
    this.dir = dir
    val turnsPath = s"$dir/turns.parquet"
    TranscriptGen.turns(spark, Convs, AvgTurns, HotConvs, HotFactor, seed, StartEpochSec)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(turnsPath)
    val turns = spark.read.parquet(turnsPath)
    val created = timestamp_micros(unix_micros(col("ts")) + col("turn_idx"))
    val order = Seq(col("ts"), col("turn_idx"))
    val keyed = turns.select(col("conv_id"), col("ts"), col("turn_idx"))
    val views = Seq(
      "cum" -> TranscriptFeatures.turnFeaturesNarrow(turns)
        .select(col("conv_id"), col("ts"), created.as("created"),
          col("turns_so_far"), col("tokens_so_far"), col("tool_rate_so_far"),
          unix_micros(col("ts")).as("cum_ts_us")),
      "sess" -> TranscriptFeatures.sessionize(keyed, Seq("conv_id"), "ts", 1800L, order)
        .select(col("conv_id"), col("ts"), created.as("created"),
          col("session_id"), unix_micros(col("ts")).as("sess_ts_us")),
      "roll" -> TranscriptFeatures.rollingTurnCount(keyed, Seq("conv_id"), "ts", 3600L)
        .select(col("conv_id"), col("ts"), created.as("created"),
          col("rolling_turns"), unix_micros(col("ts")).as("roll_ts_us")))
    val built = views.flatMap { case (v, df) =>
      val sink = s"$dir/sink_$v"
      probe.foreach(_.begin())
      val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
      val report = Materializer.materialize(spark, df, "ts", sink)
      val callMs = (System.nanoTime() - n0) / 1e6
      probe.map(p => Workload.materializeLayers(p.end(), t0, callMs, report, sink))
    }
    built.headOption.foreach { _ =>
      setupLayersAcc = built.flatMap(_.toSeq).groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).sum }
    }

    engine = new FeatureEngine(spark)
    engine.applyConfig(Map(
      "entities" -> Seq(Map("name" -> "conversation", "join_key" -> "conv_id")),
      "data_sources" -> views.map { case (v, _) =>
        s"${v}_src" -> Map("type" -> "file", "path" -> s"$dir/sink_$v",
          "timestamp_field" -> "ts", "created_timestamp_column" -> "created")
      }.toMap))
    yamlApplyMs = Workload.timeMs(engine.createFromYamlText(Yaml))._2

    // probe pool, generated in the JVM from the same conversations:
    // per conversation the edge probes (an hour before the first turn,
    // exactly on the first turn, mid-stream, ten minutes after the last
    // turn, two days after the last turn — outside the 1-day session
    // TTL), `PerConv` probes on random turns, and `HotPerConv` more on
    // the hot conversations
    val rng = new java.util.Random(seed)
    val probes = (0 until Convs).flatMap { c => // event times in µs
      val ts = TranscriptGen.genConv(c, AvgTurns, HotConvs, HotFactor, seed, StartEpochSec)
        .map(t => Math.floorDiv(t.ts.getTime, 1000L) * 1000000L + t.ts.getNanos / 1000L)
      val (lo, hi) = (ts.min, ts.max)
      val hour = 3600L * 1000000L
      val edge = Seq(lo - hour, lo, lo + (hi - lo) / 2, hi + hour / 6, hi + 48 * hour)
      val n = if (c < HotConvs) HotPerConv else PerConv
      val onTurn = Seq.fill(n)(ts(rng.nextInt(ts.size)) + (if (rng.nextBoolean()) 0L else 1L))
      (edge ++ onTurn).distinct.map(t => f"conv_$c%08d" -> t)
    }
    pool = probes.sorted.zipWithIndex.map { case ((c, t), i) =>
      Row(i.toLong, c, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(Math.floorDiv(t, 1000000L), Math.floorMod(t, 1000000L) * 1000L)))
    }.toArray
    require(pool.length >= Batch, s"probe pool of ${pool.length} < batch $Batch")

    // untimed reference: the broadcast as-of strategy, view by view
    val ref = views.foldLeft(probeFrame(pool.indices.toArray)) { case (acc, (v, _)) =>
      val view = engine.registry.getView(s"${v}_view").get
      AsOfJoin.backwardBroadcast(acc, engine.compileView(view), Seq("conv_id"),
        "event_timestamp", "event_timestamp", Some(view.ttlSeconds),
        Seq("_created_ts"), s"_m_$v").drop("_created_ts", s"_m_$v")
    }
    refHash = new Array[Long](pool.length)
    ref.select(col("probe_id"), xxhash64((col("probe_id") +: FeatureCols.map(col)): _*)
        .bitwiseAND(lit(0xFFFFFFFFL))).collect()
      .foreach(r => refHash(r.getLong(0).toInt) = r.getLong(1))

    (0 until WarmupOps).foreach { k =>
      op(-1 - k, new Tracer)
      require(check(-1 - k), s"warm-up op $k failed its check")
    }
  }

  private def probeFrame(idx: Array[Int]): DataFrame =
    spark.createDataFrame(idx.toSeq.map(pool(_)).asJava, ProbeSchema)

  /** `Batch` distinct pool indices, drawn from the run seed and op index. */
  private def draw(k: Int): Array[Int] = {
    val rng = new java.util.Random(seed * 1000003L + k)
    val idx = pool.indices.toArray
    (0 until Batch).foreach { i =>
      val j = i + rng.nextInt(idx.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(Batch)
  }

  def op(k: Int, tr: Tracer): Long = {
    lastIdx = draw(k)
    val probe = probeFrame(lastIdx)
    val out = tr.span("engine.retrieve")(engine.retrieve(probe, "transcript_svc"))
    val pts = unix_micros(col("event_timestamp"))
    def flag(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val leaks = TsCols.map { case (c, _) => flag(col(c) > pts) }.reduce(_ + _)
    val ttl = TsCols.map { case (c, days) => flag(col(c) < pts - lit(days * 86400000000L)) }
      .reduce(_ + _)
    lastAgg = out.agg(count(lit(1)), sum(col("probe_id")),
      Workload.hashSum((col("probe_id") +: FeatureCols.map(col)): _*), leaks, ttl)
    tr.span("engine.plan")(lastAgg.queryExecution.executedPlan)
    last = tr.span("asof.exec")(lastAgg.collect().head)
    Batch.toLong
  }

  def check(k: Int): Boolean = {
    last.getLong(0) == Batch &&
      last.getLong(1) == lastIdx.map(_.toLong).sum &&
      last.getLong(2) == lastIdx.map(refHash(_)).sum &&
      last.getLong(3) == 0L && last.getLong(4) == 0L
  }

  def stateBytes: Long =
    Seq("cum", "sess", "roll").map(v => Workload.dataBytes(s"$dir/sink_$v")).sum

  def layers(k: Int, sp: OpSpark, tr: Tracer): Map[String, Double] = {
    val ns = sp.allNodes
    val ex = Probe.hashExchanges(ns)
    val sortMs = Probe.sorts(ns).map(Probe.metric(_, "sortTime")).sum.toDouble
    val winTasks = Probe.windowStageShuffles(ns).flatMap(sp.tasksOfShuffle)
    val durs = winTasks.map(_.durMs.toDouble)
    val phases = lastAgg.queryExecution.tracker.phases.values.map(_.durationMs).sum
    Map(
      "engine.plan_ms" -> phases.toDouble,
      "engine.yaml_apply_ms" -> yamlApplyMs,
      "asof.exec_ms" -> tr.selfMs(k, "asof.exec"),
      "asof.exchanges" -> ex.size.toDouble,
      "asof.shuffle_bytes" -> ex.map(Probe.metric(_, "shuffleBytesWritten")).sum.toDouble,
      "asof.sort_ms" -> sortMs,
      "asof.window_ms" -> math.max(0.0, winTasks.map(_.runMs).sum - sortMs),
      "asof.spill_bytes" -> (Probe.sorts(ns).map(Probe.metric(_, "spillSize")).sum +
        Probe.windows(ns).map(Probe.metric(_, "spillSize")).sum).toDouble,
      "asof.rows_in" -> ex.map(Probe.metric(_, "shuffleRecordsWritten")).sum.toDouble,
      "asof.rows_out" -> last.getLong(0).toDouble,
      "asof.task_skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Stats.median(durs))),
      "asof.skew_splits" -> Probe.skewSplits(ns).toDouble)
  }
}

object PitLookup {
  val Convs = 400
  val AvgTurns = 10
  val HotConvs = 4
  val HotFactor = 20
  val StartEpochSec = 1704067200L // 2024-01-01T00:00:00Z
  val PerConv = 4
  val HotPerConv = 60
  val Batch = 256
  val WarmupOps = 10

  val ProbeSchema: StructType = StructType(Seq(
    StructField("probe_id", LongType, nullable = false),
    StructField("conv_id", StringType),
    StructField("event_timestamp", TimestampType)))

  /** Each view carries its matched feature ts (µs) so leakage and TTL are
    * checkable on the output; the TTLs are the YAML's `ttl_days`. */
  val TsCols: Seq[(String, Long)] = Seq("cum_ts_us" -> 30L, "sess_ts_us" -> 1L, "roll_ts_us" -> 7L)
  val FeatureCols: Seq[String] = Seq("turns_so_far", "tokens_so_far", "tool_rate_so_far",
    "cum_ts_us", "session_id", "sess_ts_us", "rolling_turns", "roll_ts_us")

  val Yaml: String =
    """feature_views:
      |  cum_view:
      |    source_name: cum_src
      |    entities: [conversation]
      |    ttl_days: 30
      |    schema:
      |      - {name: turns_so_far, dtype: INT64}
      |      - {name: tokens_so_far, dtype: INT64}
      |      - {name: tool_rate_so_far, dtype: FLOAT}
      |      - {name: cum_ts_us, dtype: INT64}
      |  sess_view:
      |    source_name: sess_src
      |    entities: [conversation]
      |    ttl_days: 1
      |    schema:
      |      - {name: session_id, dtype: INT64}
      |      - {name: sess_ts_us, dtype: INT64}
      |  roll_view:
      |    source_name: roll_src
      |    entities: [conversation]
      |    ttl_days: 7
      |    schema:
      |      - {name: rolling_turns, dtype: INT64}
      |      - {name: roll_ts_us, dtype: INT64}
      |feature_services:
      |  transcript_svc:
      |    features: [cum_view, sess_view, roll_view]
      |""".stripMargin
}
