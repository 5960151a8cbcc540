package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.datagen.DocsGen
import graft.dedup.{Dedup, DedupStore}
import graft.pipeline.PretrainPipeline
import graft.text.TextAnalysis

/** Text/dedup path: `PretrainPipeline.clean` of one increment chunk,
  * then `DedupStore.newDocs` and `nearDups` of the chunk against a fixed
  * store, each consumed by a checksum. Nothing is appended, so every op
  * probes a store of the same size. */
final class Curation extends Workload {
  import Curation._

  private var spark: SparkSession = _
  private var seed = 0L
  private var storeDir = ""
  private var store: DedupStore.Store = _
  private var chunks: IndexedSeq[DataFrame] = _
  private var reference: IndexedSeq[Seq[Long]] = _
  private var chunkIdx = 0
  private var last: Seq[Long] = Nil
  private var kernelRows: DataFrame = _

  def setup(spark: SparkSession, seed: Long, dir: String, probe: Option[Probe]): Unit = {
    this.spark = spark
    this.seed = seed
    // doc-id offset is a multiple of 20 so DocsGen's planted per-20-id
    // structure (exact copy at id % 20 == 17, near-dup star, filtered
    // content) holds in the store and in every chunk
    val offset = 20L * Math.floorMod(seed, 1000000L)
    val storeIds = offset until offset + StoreDocs
    docs(storeIds.map(i => (i, DocsGen.text(i)))).write.parquet(s"$dir/store_docs.parquet")
    storeDir = s"$dir/store"
    store = DedupStore.build(spark.read.parquet(s"$dir/store_docs.parquet"), "text", "doc_id",
      storeDir)

    // chunk j: a fresh DocsGen block (planted structure intact) plus
    // replays of store documents under new ids, exact and near (last
    // word dropped); replay sources are store ids with id % 20 < 13,
    // whose text is unique in the store
    val rng = new java.util.Random(seed)
    chunks = (0 until Chunks).map { j =>
      val fresh = offset + StoreDocs + j.toLong * ChunkDocs
      val freshRows = (fresh until fresh + ChunkDocs).map(i => (i, DocsGen.text(i)))
      val replays = (0 until Replays).map { r =>
        val src = storeIds.start + 20L * rng.nextInt(StoreDocs / 20) + rng.nextInt(13)
        val t = DocsGen.text(src)
        val text = if (r % 2 == 0) t else t.substring(0, t.lastIndexOf(' '))
        (ReplayBase + j.toLong * Replays + r, text)
      }
      val path = s"$dir/chunk_$j.parquet"
      docs(freshRows ++ replays).write.parquet(path)
      spark.read.parquet(path)
    }
    // reference checksums come from each chunk's first run (which is
    // also the warm-up); the planted invariants checked on every op are
    // independent of them
    reference = chunks.indices.map { j =>
      chunkIdx = j
      runOp(new Tracer)
      require(invariantsHold, s"planted invariants failed on chunk $j")
      last.take(6)
    }
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)

  private def isReplay(c: org.apache.spark.sql.Column) = c >= lit(ReplayBase)
  private def exactReplay(c: org.apache.spark.sql.Column) = isReplay(c) && pmod(c, lit(2L)) === 0

  private def runOp(tr: Tracer): Long = {
    val chunk = chunks(chunkIdx)
    val id = col("doc_id")
    val c = tr.span("pipeline.clean")(PretrainPipeline.clean(chunk)
      .agg(count(lit(1)), Workload.hashSum(id),
        sum(when(!isReplay(id) && pmod(id, lit(20L)) === 17, 1L).otherwise(0L))).collect().head)
    val n = tr.span("dedup.store_newdocs")(DedupStore.newDocs(store, chunk, "text", "doc_id")
      .agg(count(lit(1)), Workload.hashSum(id),
        sum(when(exactReplay(id), 1L).otherwise(0L))).collect().head)
    val p = tr.span("dedup.store_neardups")(DedupStore.nearDups(store, chunk, "text", "doc_id")
      .agg(count(lit(1)), Workload.hashSum(col("inc_id"), col("store_id")),
        countDistinct(when(exactReplay(col("inc_id")), col("inc_id")))).collect().head)
    // (survivors, survivor sum, new docs, new-doc sum, pairs, pair sum,
    //  planted id%20==17 survivors, exact replays admitted as new,
    //  exact replays found as near-dups)
    last = Seq(c.getLong(0), c.getLong(1), n.getLong(0), n.getLong(1), p.getLong(0),
      p.getLong(1), c.getLong(2), n.getLong(2), p.getLong(2))
    ChunkDocs + Replays
  }

  private def invariantsHold: Boolean =
    last(6) == 0L && last(7) == 0L && last(8) == (Replays + 1) / 2

  def op(k: Int, tr: Tracer): Long = {
    chunkIdx = Math.floorMod(seed * 31 + k, Chunks.toLong).toInt
    runOp(tr)
  }

  def check(k: Int): Boolean = invariantsHold && last.take(6) == reference(chunkIdx)

  def stateBytes: Long = Workload.dataBytes(storeDir)

  def layers(k: Int, sp: OpSpark, tr: Tracer): Map[String, Double] = {
    // LSH candidate pairs of the chunk's exact-deduped docs, and those
    // the Jaccard verification keeps, at the pipeline's settings
    val chunk = chunks(chunkIdx)
    val cfg = PretrainPipeline.Config()
    def lshPairs(threshold: Double) = Dedup.minhashLsh(Dedup.exact(chunk, "text", "doc_id"),
      "text", "doc_id", cfg.numHashes, cfg.bands, cfg.shingleWidth, threshold, cfg.maxBucket)
      .count().toDouble
    val cand = lshPairs(0.0)
    val ver = lshPairs(cfg.nearDupThreshold)
    val (_, minhashMs) = Workload.timeMs(
      Dedup.minhashSignatures(chunk, "text", "doc_id", cfg.numHashes, cfg.shingleWidth).agg(sum(xxhash64(col("_sig")))).collect())
    val (_, filterMs) = Workload.timeMs(chunk
      .filter(TextAnalysis.langId(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.75)
      .agg(Workload.hashSum(col("doc_id"))).collect())
    if (kernelRows == null) {
      kernelRows = spark.range(0, KernelRows).select(
        col("id").as("doc_id"),
        udfText(col("id")).as("text"), udfText(col("id") + 1).as("text_b")).cache()
      kernelRows.count()
    }
    val base = length(col("text"))
    Map(
      "pipeline.clean_ms" -> tr.selfMs(k, "pipeline.clean"),
      "pipeline.survivor_ratio" -> last.head.toDouble / (ChunkDocs + Replays),
      "text.filter_ms" -> filterMs,
      "dedup.minhash_ms" -> minhashMs,
      "dedup.candidate_pairs" -> cand,
      "dedup.verified_pairs" -> ver,
      "dedup.verify_yield" -> (if (cand == 0) 0.0 else ver / cand),
      "dedup.store_newdocs_ms" -> tr.selfMs(k, "dedup.store_newdocs"),
      "dedup.store_neardups_ms" -> tr.selfMs(k, "dedup.store_neardups"),
      "functions.minhash_ns_per_doc" -> Workload.kernelNsPerRow(kernelRows, KernelRows,
        graft.functions.MinHashSignature(col("text"), 32, 3, 0x5EEDL), base),
      "functions.jaccard_ns_per_pair" -> Workload.kernelNsPerRow(kernelRows, KernelRows,
        graft.functions.NgramJaccardSim(col("text"), col("text_b"), 3), base),
      "functions.token_count_ns_per_row" -> Workload.kernelNsPerRow(kernelRows, KernelRows,
        graft.functions.WhitespaceTokenCount(col("text")), base))
  }

  private val udfText = udf((i: Long) => DocsGen.text(i))
}

object Curation {
  val StoreDocs = 4000
  val Chunks = 3
  val ChunkDocs = 200
  val Replays = 20
  val ReplayBase = 1L << 40
  val KernelRows = 20000L
}
