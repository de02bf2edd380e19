package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.ann.{CentroidRouter, IVFIndex, IVFModel, KnnExact}

/** Shared state of one run. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val rec: Record,
    val seed: Long,
    val seconds: Double,
    val work: String,
    val cores: Int,
    setupsOverride: Option[Int]) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Set-ups to run: the workload's own count unless overridden. */
  def setups(default: Int): Int = setupsOverride.getOrElse(default)

  /** A top-level phase: a span, and its wall time in the record. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(body)
    finally rec.values(s"phase_s.$name") = (System.nanoTime() - t0) / 1e9
  }

  /** Run `body(i)` for i = 0, 1, ... until `window` seconds have
    * passed and it ran at least `min` times. */
  def measureLoop(window: Double = seconds, min: Int = 1)(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (window * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadline) { body(i); i += 1 }
  }
}

/** The workloads. Each one makes its inputs from the seed, sets up
  * several times (the runner reports the median), measures for the
  * run length, and records every result next to what it must equal.
  * Phases are spans: `prepare`, `setup`, `warm`, `measure` (the timed
  * window) and `post`. */
object Workloads {
  /** Untimed repetitions of the measured operation before the window:
    * the JIT keeps speeding the operation up for its first seconds
    * (measured: a round's wall halves over its first ten repetitions),
    * and a window that starts cold makes the median depend on how many
    * repetitions fit. */
  private val WarmSeconds = 4.0

  private val VectorsPerTopic = 40
  private val Noise = 0.35

  def run(name: String, c: Ctx): Unit = name match {
    case "batch-search" => batchSearch(c)
    case "vector-sql" => vectorSql(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def mixture(c: Ctx, dim: Int, n: Int) =
    new Mixture(c.seed, dim, math.max(8, n / VectorsPerTopic), Noise)

  /** Neighbour ids per query (in `qids` order), each list by rank, from
    * (query_id, neighbor_id, rk) rows. */
  private def idsByQuery(rows: Array[Row], qids: Seq[Long]): Seq[Seq[Long]] = {
    val by = rows.groupBy(_.getLong(0))
    qids.map(q => by.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(2)).map(_.getLong(1)).toSeq)
  }

  private def release(m: IVFModel): Unit = {
    m.freeSearchCaches()
    m.index.unpersist(blocking = false)
  }

  private def need[T](res: (Int, Option[T], Double), what: String): T =
    res._2.getOrElse(throw new IllegalStateException(s"$what failed; the workload cannot go on"))

  private def addTruth(c: Ctx, name: String, t: Array[(Array[Long], Array[Double])]): Unit =
    c.rec.truth(name) = t.map(_._1.toSeq).toSeq

  /** Driver-side routing alone (traced runs): rotate each query and
    * rank the centroids, as a search call does before its job. */
  private def timeRoute(c: Ctx, m: IVFModel, qs: Array[Array[Float]], nprobe: Int): Unit =
    if (c.tracer.enabled) c.span("ann.route") {
      qs.foreach { q =>
        val t0 = System.nanoTime()
        CentroidRouter.rankFlat(m.rotatedCentroids, m.rotator.rotate(q), nprobe)
        c.rec.sample("route_us", (System.nanoTime() - t0) / 1e3)
      }
    }

  /** One single-query search on `m`, recorded as an op: its id and,
    * unless it threw, the neighbour ids by rank. */
  private def searchOne(c: Ctx, m: IVFModel, phase: String, q: Array[Float], k: Int,
      nprobe: Int): (Int, Option[Seq[Long]]) = {
    val (op, rows, s) = c.rec.op("search", phase) {
      c.span("ann.search_call") { m.search(c.spark, Array((0L, q)), k, nprobe).collect() }
    }
    if (rows.isDefined) c.rec.sample(s"search_s.$phase", s)
    (op, rows.map(r => idsByQuery(r, Seq(0L)).head))
  }

  // --- batch-search: whole-batch searchAll passes over one index ---
  private object Batch {
    val n = 10000; val dim = 128; val clusters = 32
    val queries = 400; val k = 100; val nprobe = 8; val chunk = 200
    val setups = 3
  }

  private def batchSearch(c: Ctx): Unit = {
    import Batch._
    val spark = c.spark
    val mix = mixture(c, dim, n)
    val corpus = mix.draw(0, n)
    val qs = mix.draw(1, queries)
    c.phase("prepare") {
      Data.writeParquet(spark, s"${c.work}/corpus", corpus, 0L, c.cores)
      Data.writeParquet(spark, s"${c.work}/queries", qs, 0L, 1)
      addTruth(c, "corpus", Truth.topK(corpus, n, qs, k, c.cores))
    }
    val base = spark.read.parquet(s"${c.work}/corpus")
    val qdf = spark.read.parquet(s"${c.work}/queries")
    val qids = (0 until queries).map(_.toLong)
    val params = IVFIndex.Params(k = clusters, totalBits = 4, seed = c.seed,
      kmeansInitMode = "random")

    var model: IVFModel = null
    c.phase("setup") {
      (0 until c.setups(setups)).foreach { _ =>
        if (model != null) release(model)
        val t0 = System.nanoTime()
        model = need(c.rec.op("build", "setup") {
          c.span("ann.build") { IVFIndex.build(spark, base, params) }
        }, "build")
        c.rec.op("search_all", "setup") {
          c.span("ann.search_all") { model.searchAll(spark, qdf, k, nprobe, chunk).collect() }
        }
        c.rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
      }
    }
    def pass(phase: String): Unit = {
      val (op, rows, s) = c.rec.op("search_all", phase) {
        c.span("ann.search_all") { model.searchAll(spark, qdf, k, nprobe, chunk).collect() }
      }
      rows.foreach { r =>
        c.rec.sample(s"pass_s.$phase", s)
        c.rec.check(op, "ann_topk", "k" -> k, "corpus" -> n.toLong, "truth" -> "corpus",
          "qidx" -> qids, "ids" -> idsByQuery(r, qids))
      }
    }
    c.phase("warm") { c.measureLoop(WarmSeconds, 2)(_ => pass("warm")) }
    c.phase("measure") { c.measureLoop()(_ => pass("measure")) }
    c.rec.values("queries_per_pass") = queries
    c.rec.values("chunks_per_pass") = (queries + chunk - 1) / chunk
    c.phase("post") {
      timeRoute(c, model, qs.take(200), nprobe)
      lifecycle(c, model, mix, corpus, qs)
    }
  }

  /** The index's life after the timed window, gated and traced but not
    * timed end to end: save, load as a serving process would, a closed
    * loop of single-query searches, one streaming append of a new
    * parquet file with a search on the uncompacted overlay, then compact
    * and a final search. */
  private def lifecycle(c: Ctx, model: IVFModel, mix: Mixture, corpus: Array[Array[Float]],
      qs: Array[Array[Float]]): Unit = {
    import Lifecycle._
    val spark = c.spark
    val path = s"${c.work}/index"
    need(c.rec.op("save", "post") { c.span("ann.save") { model.save(path) } }, "save")
    c.rec.values("stored_bytes") = Data.bytesUnder(path)
    c.rec.values("stored_vectors") = corpus.length
    val served = need(c.rec.op("load", "post") {
      c.span("ann.load") { IVFModel.load(spark, path) }
    }, "load")
    (0 until calls).foreach { i =>
      val (op, ids) = searchOne(c, served, "post", qs(i), k, nprobe)
      ids.foreach(x => c.rec.check(op, "ann_topk", "k" -> k, "corpus" -> corpus.length.toLong,
        "truth" -> "corpus", "qidx" -> Seq(i.toLong), "ids" -> Seq(x)))
    }
    // one ingest round: land a file, append it, load the overlay
    val vecs = mix.draw(2L, batch)
    val first = corpus.length.toLong
    val src = s"${c.work}/incoming"
    Data.landFile(spark, src, s"${c.work}/staging", "batch-00000.parquet", vecs, first)
    c.rec.op("append", "post") {
      c.span("ann.append") { IVFIndex.appendStream(spark, model, src, path) }
    }
    c.rec.values("appended_vectors") = batch
    c.rec.values("vector_bytes") = vecs(0).length * 4L + 8L
    val total = first + batch
    def reload(): Option[IVFModel] = {
      val (op, m, _) = c.rec.op("load", "post") {
        c.span("ann.load") { IVFModel.load(spark, path) }
      }
      m.foreach(x => c.rec.check(op, "count", "expected" -> total,
        "actual" -> scala.util.Try(x.index.count()).getOrElse(-1L)))
      m
    }
    /** An appended vector must find itself first. */
    def selfSearch(m: IVFModel, idx: Int): Unit = {
      val (op, ids) = searchOne(c, m, "post", vecs(idx), k, nprobe)
      ids.foreach(x => c.rec.check(op, "self", "expected" -> (first + idx), "ids" -> x))
    }
    reload().foreach(selfSearch(_, 0))
    c.rec.op("compact", "post") { c.span("ann.compact") { IVFModel.compact(spark, path) } }
    c.rec.values("compacted_bytes") = Seq("centroids", "rotation", "meta", "entries", "packed")
      .map(d => Data.bytesUnder(s"$path/$d")).sum
    reload().foreach(selfSearch(_, batch / 2))
  }

  private object Lifecycle {
    val calls = 8; val k = 10; val nprobe = 4; val batch = 500
  }

  // --- vector-sql: exact top-k and a radius filter in SQL, and
  // KnnExact.topK, over one table; no index ---
  private object Sql {
    val n = 10000; val dim = 128; val queries = 32; val k = 10
    val setups = 5 // a table load is cheap, so more of them steady the median
  }

  private def vectorSql(c: Ctx): Unit = {
    import Sql._
    val spark = c.spark
    val mix = mixture(c, dim, n)
    val corpus = mix.draw(0, n)
    val qs = mix.draw(1, queries)
    val (truth, r, counts) = c.phase("prepare") {
      Data.writeParquet(spark, s"${c.work}/corpus", corpus, 0L, c.cores)
      Data.writeParquet(spark, s"${c.work}/queries", qs, 0L, 1)
      val truth = Truth.topK(corpus, n, qs, k, c.cores)
      // a radius that one query's k-th neighbour sits on exactly, so
      // the strict `<` boundary is exercised
      val r = math.sqrt(truth.map(_._2(k - 1)).sorted.apply(queries / 2))
      (truth, r, Truth.radiusCounts(corpus, qs, r, c.cores))
    }
    addTruth(c, "corpus", truth)
    val qids = (0 until queries).map(_.toLong)
    val qArr = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

    val topkSql =
      s"""SELECT qid, vec_id, CAST(rk AS INT) AS rk FROM (
         |  SELECT /*+ BROADCAST(q) */ q.qid, c.vec_id, row_number() OVER (
         |    PARTITION BY q.qid ORDER BY vec_l2sq(q.qvec, c.embedding), c.vec_id) AS rk
         |  FROM corpus c CROSS JOIN queries q) t
         |WHERE rk <= $k""".stripMargin
    val rangeSql =
      s"""SELECT /*+ BROADCAST(q) */ q.qid, count(*) AS n
         |FROM corpus c CROSS JOIN queries q
         |WHERE vec_l2(q.qvec, c.embedding) < ${r}D
         |GROUP BY q.qid""".stripMargin

    var table: org.apache.spark.sql.DataFrame = null
    c.phase("setup") {
      (0 until c.setups(setups)).foreach { _ =>
        if (table != null) table.unpersist(blocking = true)
        val t0 = System.nanoTime()
        table = need(c.rec.op("table_load", "setup") {
          c.span("table.load") {
            val t = spark.read.parquet(s"${c.work}/corpus").cache()
            t.count()
            t.createOrReplaceTempView("corpus")
            t
          }
        }, "table load")
        c.rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
      }
      spark.read.parquet(s"${c.work}/queries")
        .withColumnRenamed("vec_id", "qid").withColumnRenamed("embedding", "qvec")
        .cache().createOrReplaceTempView("queries")
    }
    c.rec.values("range_rewrite_fired") = {
      import org.apache.spark.sql.catalyst.expressions.Sqrt
      val plan = spark.sql(rangeSql).queryExecution.optimizedPlan
      !plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Sqrt])))
    }
    /** The three queries once; their walls if all three returned. */
    def round(phase: String): Option[(Double, Double, Double)] = {
      val (op1, top, s1) = c.rec.op("sql_topk", phase) {
        c.span("sql.topk") { spark.sql(topkSql).collect() }
      }
      top.foreach(rows => c.rec.check(op1, "exact_topk", "k" -> k, "corpus" -> n.toLong,
        "truth" -> "corpus", "qidx" -> qids, "ids" -> idsByQuery(rows, qids)))
      val (op2, range, s2) = c.rec.op("sql_range", phase) {
        c.span("sql.range") { spark.sql(rangeSql).collect() }
      }
      range.foreach { rows =>
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        c.rec.check(op2, "counts", "expected" -> counts.toSeq,
          "actual" -> qids.map(q => got.getOrElse(q, 0L)))
      }
      val (op3, exact, s3) = c.rec.op("knn_exact", phase) {
        c.span("ann.exact") { KnnExact.topK(spark, table, qArr, k).collect() }
      }
      exact.foreach(rows => c.rec.check(op3, "exact_topk", "k" -> k, "corpus" -> n.toLong,
        "truth" -> "corpus", "qidx" -> qids, "ids" -> idsByQuery(rows, qids)))
      if (top.isDefined && range.isDefined && exact.isDefined) Some((s1, s2, s3)) else None
    }
    c.phase("warm") { c.measureLoop(WarmSeconds, 2)(_ => round("warm")) }
    c.phase("measure") {
      c.measureLoop() { _ =>
        round("measure").foreach { case (s1, s2, s3) =>
          c.rec.sample("round_s", s1 + s2 + s3)
          c.rec.sample("topk_s", s1); c.rec.sample("range_s", s2); c.rec.sample("exact_s", s3)
        }
      }
    }
    // distance evaluations of one SQL query over the table
    c.rec.values("distances_per_query") = n.toLong * queries
    c.rec.values("stored_bytes") = Data.bytesUnder(s"${c.work}/corpus")
    c.rec.values("stored_vectors") = n
  }
}
