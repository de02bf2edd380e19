package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** Ground truth by plain brute force on the driver, independent of the
  * program's own exact paths: a distance bug in the program must not
  * move the reference it is graded against. Runs on at most `threads`
  * threads and only outside timed windows.
  *
  * Squared L2 is summed in index order over `(double) a_i - b_i`,
  * squared, the same arithmetic the exact paths document, so they must
  * agree bit for bit, ties broken by id. */
object Truth {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  private def parallel(n: Int, threads: Int)(f: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = (0 until math.max(1, threads)).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = next.getAndIncrement()
            while (i < n) { f(i); i = next.getAndIncrement() }
          }
        })
      }
      tasks.foreach(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Ids (= row indexes) of the `k` nearest of `corpus(0 until n)` to
    * each query, ordered by (distance, id); the distances alongside. */
  def topK(corpus: Array[Array[Float]], n: Int, queries: Array[Array[Float]], k: Int,
      threads: Int): Array[(Array[Long], Array[Double])] = {
    val out = new Array[(Array[Long], Array[Double])](queries.length)
    parallel(queries.length, threads) { qi =>
      val q = queries(qi)
      // bounded max-heap on (dist, id) held in two parallel arrays
      val hd = new Array[Double](k)
      val hi = new Array[Long](k)
      var size = 0
      def worse(i: Int, j: Int): Boolean =
        hd(i) > hd(j) || (hd(i) == hd(j) && hi(i) > hi(j))
      def swap(i: Int, j: Int): Unit = {
        val d = hd(i); hd(i) = hd(j); hd(j) = d
        val x = hi(i); hi(i) = hi(j); hi(j) = x
      }
      def siftDown(start: Int): Unit = {
        var i = start
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < size && worse(l, m)) m = l
          if (r < size && worse(r, m)) m = r
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }
      var id = 0
      while (id < n) {
        val d = l2sq(q, corpus(id))
        if (size < k) {
          hd(size) = d; hi(size) = id; size += 1
          var i = size - 1
          while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
        } else if (d < hd(0) || (d == hd(0) && id < hi(0))) {
          hd(0) = d; hi(0) = id; siftDown(0)
        }
        id += 1
      }
      val order = (0 until size).sortBy(i => (hd(i), hi(i)))
      out(qi) = (order.map(hi).toArray, order.map(hd).toArray)
    }
    out
  }

  /** Per query, how many corpus rows lie at L2 distance strictly below `r`. */
  def radiusCounts(corpus: Array[Array[Float]], queries: Array[Array[Float]], r: Double,
      threads: Int): Array[Long] = {
    val out = new Array[Long](queries.length)
    parallel(queries.length, threads) { qi =>
      var c = 0L
      var id = 0
      while (id < corpus.length) {
        if (math.sqrt(l2sq(queries(qi), corpus(id))) < r) c += 1
        id += 1
      }
      out(qi) = c
    }
    out
  }
}
