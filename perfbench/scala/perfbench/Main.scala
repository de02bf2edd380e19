package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: `--workload W --seed N --seconds S
  * --trace 0|1 --cores C --work DIR --out FILE [--setups K]`. Writes the
  * raw run record as JSON to FILE; `perfbench/run.py` builds, launches
  * this and turns the record into metrics. W may list several
  * workloads, comma-separated; the build's class-loading warm-up run
  * uses that to touch every code path once. */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val out = opt("out")

    val rec = new Record
    rec.values("workload") = workload
    rec.values("max_heap_bytes") = Runtime.getRuntime.maxMemory()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      // the vector SQL functions and SimplifyVectorExpressions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.values("session_s") = (System.nanoTime() - t0) / 1e9
    val log = if (trace) Some(new SparkLog) else None
    log.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(trace)
    try {
      val setups = opts.get("setups").map(_.toInt)
      val names = workload.split(",").toSeq
      def ctx(w: String) = new Ctx(spark, tracer, rec, opt("seed").toLong,
        opt("seconds").toDouble, if (names.length == 1) work else s"$work/$w", cores, setups)
      try names.foreach(w => Workloads.run(w, ctx(w)))
      catch {
        case NonFatal(e) =>
          rec.values("aborted") = s"${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }
      log.foreach { l =>
        l.drain(spark.sparkContext)
        rec.values("spans") = tracer.records
        rec.values("jobs") = l.jobRecords
        rec.values("stages") = l.stageRecords
      }
      val json = Json.render(Map(
        "values" -> rec.values, "ops" -> rec.ops, "samples" -> rec.samples,
        "checks" -> rec.checks, "truth" -> rec.truth))
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
