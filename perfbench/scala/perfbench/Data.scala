package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** The benchmark's own seeded vector source: a Gaussian topic mixture
  * on the unit sphere. Each vector is `normalize(c_t + noise · g)` with
  * `c_t` one of `topics` centres (i.i.d. N(0, 1) per dimension) and `g`
  * i.i.d. N(0, 1). A topic holds fewer vectors than the larger k the
  * workloads ask for, so a true neighbour list spans several topics and
  * IVF recall sits mid-range instead of at 1.0.
  *
  * Every draw comes from a `SplittableRandom` keyed by (seed, stream),
  * so one seed always yields the same corpus, queries and ingest
  * batches, independent of the program under test. */
final class Mixture(seed: Long, val dim: Int, topics: Int, noise: Double) {
  val centres: Array[Array[Float]] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17L)
    Array.fill(topics)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** `n` vectors of stream `stream` (corpus, queries, ingest batches
    * each use their own stream). */
  def draw(stream: Long, n: Int): Array[Array[Float]] = {
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + stream * 0x632BE59BD9B4E019L)
    Array.fill(n) {
      val c = centres(rnd.nextInt(topics))
      val v = new Array[Float](dim)
      var n2 = 0.0
      var i = 0
      while (i < dim) {
        val x = (c(i) + noise * rnd.nextGaussian()).toFloat
        v(i) = x
        n2 += x.toDouble * x
        i += 1
      }
      val inv = (1.0 / math.sqrt(n2)).toFloat
      i = 0
      while (i < dim) { v(i) *= inv; i += 1 }
      v
    }
  }
}

object Data {
  /** Write (vec_id, embedding) rows as a parquet directory of `parts`
    * files; ids are `firstId + row index`. */
  def writeParquet(spark: SparkSession, dir: String, vecs: Array[Array[Float]],
      firstId: Long, parts: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(vecs.indices.map(i => (firstId + i, vecs(i))), parts)
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
  }

  /** Land one ingest batch as a single new parquet file `name` in
    * `srcDir`: written next to it first, then moved in, so the stream
    * source never sees a partial file. */
  def landFile(spark: SparkSession, srcDir: String, stagingDir: String, name: String,
      vecs: Array[Array[Float]], firstId: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    writeParquet(spark, stagingDir, vecs, firstId, 1)
    val part = Files.list(Paths.get(stagingDir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $stagingDir"))
    Files.createDirectories(Paths.get(srcDir))
    Files.move(part, Paths.get(srcDir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Total size of the data files under `dir` (hidden checksum files
    * excluded). */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith("."))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
