package graftbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own tracing and statistics, run once after
  * each build: nested spans, a job forked on a reused `graft.ops.Jobs`
  * thread, and the tail-percentile rule at small n. */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def run(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      nestedSpans(spark)
      reusedJobsThread(spark)
      tailRule()
    } finally spark.stop()
    println("selftest ok")
  }

  /** Exactly one Spark job. */
  private def job(spark: SparkSession): Long =
    spark.sparkContext.parallelize(1 to 100, 2).count()

  private def nestedSpans(spark: SparkSession): Unit = {
    val tr = new Tracer
    tr.attach(spark)
    val outer = tr.open("outer")
    job(spark)
    val inner = tr.open("inner")
    job(spark); job(spark)
    tr.close(inner)
    job(spark)
    tr.close(outer)
    tr.detach(spark)
    val own = tr.attribute()
    val incl = tr.inclusive(own)
    expect(own(inner.id).jobs == 2, s"inner owns ${own(inner.id).jobs} jobs")
    expect(own(outer.id).jobs == 2, s"outer owns ${own(outer.id).jobs} jobs")
    expect(incl(outer.id).jobs == 4, "outer includes its child's jobs")
    expect(inner.parent == outer.id && inner.depth == 1, "inner's parent")
  }

  /** `graft.ops.Jobs` threads inherit the local properties of the thread
    * that created them, and keep them when reused. A job forked in the
    * second span runs on the thread made in the first, still carrying the
    * first span's property, yet must be attributed to the second span. */
  private def reusedJobsThread(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val tr = new Tracer
    tr.attach(spark)
    def fork(): (String, String) = graft.ops.Jobs.join(graft.ops.Jobs.fork {
      job(spark)
      (Thread.currentThread.getName, sc.getLocalProperty("bench.span"))
    })
    val first = tr.open("first")
    sc.setLocalProperty("bench.span", "first")
    val (t1, _) = fork()
    tr.close(first)
    val second = tr.open("second")
    sc.setLocalProperty("bench.span", "second")
    val (t2, seen) = fork()
    tr.close(second)
    sc.setLocalProperty("bench.span", null)
    tr.detach(spark)
    expect(t1 == t2, s"pool thread not reused ($t1, $t2)")
    expect(seen == "first", s"reused thread saw property '$seen'")
    val own = tr.attribute()
    expect(own.get(first.id).map(_.jobs).contains(1L), "first span's job")
    expect(own.get(second.id).map(_.jobs).contains(1L), "second span's job")
  }

  private def tailRule(): Unit = {
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val five = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    expect(Stats.tail(five) == ((3.0, 50.0, 5)), "n=5 falls back to median")
    val ten = (1 to 10).map(_.toDouble)
    expect(Stats.tail(ten) == ((5.5, 50.0, 10)), "n=10 falls back to median")
    val eleven = (1 to 11).map(_.toDouble)
    val (v11, p11, _) = Stats.tail(eleven)
    expect(v11 == 1.0 && close(p11, 100.0 / 11), s"n=11 gives ($v11, $p11)")
    val twenty = (1 to 20).map(_.toDouble).reverse
    expect(Stats.tail(twenty) == ((10.0, 50.0, 20)), "n=20 gives p50")
    val hundred = (1 to 100).map(_.toDouble)
    val (v, p, n) = Stats.tail(hundred)
    expect(v == 90.0 && close(p, 90.0) && n == 100, s"n=100 gives ($v, $p)")
    expect(hundred.count(_ > v) == 10, "ten samples beyond the tail")
  }
}
