package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Focused A/B probe for d8_stream_spans at probe scale — the round-13
  * verdict's largest 100×-probe wall (87.7 s at 500k docs / ~16.5M live
  * span states vs 6.45 s for batch c24 over the same spans: the gap is
  * state-store machinery, not the span kernel). Knobs, one JSON line
  * per run (same corpus generator as ScaleProbe, so rows are
  * comparable with scale_probe_r13_500k.json):
  *
  *   SPARK_GRAFT_PROBE_DOCS      corpus size (default 500000)
  *   SPARK_GRAFT_CPUS            threads (default 32)
  *   SPARK_GRAFT_STATE_STORE     rocksdb (default; heap OOMs ~16M
  *                               states per 32-thread JVM) | hdfs
  *   SPARK_GRAFT_SHUFFLE         state-shard count (default = cpus)
  *   SPARK_GRAFT_ROCKS_CHANGELOG 1 = changelog checkpointing (commits
  *                               ship the delta, snapshots go async)
  *                               instead of the default full-snapshot
  *                               upload per commit
  *   SPARK_GRAFT_ROCKS_BOUNDED   1 = enable rocksdb boundedMemoryUsage
  *                               (opt-in; Spark's default is false and
  *                               the 500 MB default cap can bind at
  *                               span-state scale — the mode that ran
  *                               is stamped into the JSON row)
  *   SPARK_GRAFT_PROBE_OP        spans (default) | kmv — which
  *                               streaming operator to drive (kmv =
  *                               d11, the small-state control for the
  *                               changelog-default trade)
  *   SPARK_GRAFT_PROBE_FILES_PER_TRIGGER
  *                               COMMIT-BATCHING knob (r16 verdict
  *                               item 5): cap source files per
  *                               trigger, so the same corpus drains as
  *                               ceil(nFiles/k) micro-batches instead
  *                               of one — same rows, same final state,
  *                               k× the state-store commits. Unset =
  *                               one AvailableNow batch. Runs with
  *                               this knob pin retention/watermark
  *                               high (no eviction) so the state
  *                               volume is identical across trigger
  *                               counts and the A/B isolates pure
  *                               per-commit overhead.
  */
object D8Probe {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_PROBE_DOCS", "500000").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "rocksdb")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val changelog = sys.env.get("SPARK_GRAFT_ROCKS_CHANGELOG").contains("1")
    // boundedMemoryUsage is opt-IN (Spark's own default is false):
    // flipping it by default made cross-round d8 walls non-like-for-
    // like, and the 500 MB default cap can bind at span-state scale
    // (ADVICE r15). Whatever mode ran is stamped into the JSON row.
    val bounded = sys.env.get("SPARK_GRAFT_ROCKS_BOUNDED").contains("1")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-d8-probe")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    val withProvider = provider match {
      case "rocksdb" => builder
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          changelog.toString)
        .config(
          "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
          bounded.toString)
      case _ => builder
    }
    val spark = withProvider.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val docs = ScaleProbe.synthDocs(spark, nDocs)
      val docsDir = java.nio.file.Files.createTempDirectory("d8probe_docs")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        org.apache.commons.io.FileUtils.deleteQuietly(docsDir.toFile); ()
      }))
      docs.withColumn("lang", lit("en")).withColumn("source", lit("synth"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(docsDir.toString)
      val op = sys.env.getOrElse("SPARK_GRAFT_PROBE_OP", "spans")
      val filesPerTrigger = sys.env.get("SPARK_GRAFT_PROBE_FILES_PER_TRIGGER")
        .flatMap(_.toIntOption).filter(_ > 0)
      val t0 = System.nanoTime()
      val out = op match {
        case "kmv" => graft.streaming.StreamKmv
          .streamingKmvFromDir(spark, docsDir.toString)
        case _ if filesPerTrigger.isDefined =>
          // commit-batching A/B: retention/watermark pinned past the
          // corpus's ts range so NO span evicts between triggers —
          // final state identical to the one-batch run, only the
          // number of per-store commits differs
          graft.streaming.StreamSpanDedup.streamingSpanDedupFromDir(
            spark, docsDir.toString,
            retentionSec = 1000000000L,
            watermarkDelay = "1000000000 seconds",
            maxFilesPerTrigger = filesPerTrigger)
        case _ => graft.streaming.StreamSpanDedup
          .streamingSpanDedupFromDir(spark, docsDir.toString)
      }
      out.queryExecution.toRdd.foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      Scratch.reap()
      println(
        f"""{"probe":"d8_ab","op":"${ProbeJson.esc(op)}","n_docs":$nDocs,"cpus":${cpus.toInt},""" +
          f""""provider":"${ProbeJson.esc(provider)}","shuffle":${shuffle.toInt},""" +
          f""""changelog":$changelog,"bounded_memory":$bounded,""" +
          f""""files_per_trigger":${filesPerTrigger.getOrElse(0)},"wall_s":$wall%.2f}""")
    } finally spark.stop()
  }
}
