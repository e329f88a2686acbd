package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.DataFrame

import graft.config.{DatasetParams, TestParams}
import graft.core.Comparison
import graft.operators.Graphs

/** Operators are safe to call concurrently on one session: none of them
  * writes the caller's session conf while it plans or runs, so parallel
  * callers can neither see each other's settings nor get different results
  * from the ones a serial run gives.
  */
class ReentrancySpec extends SparkSpec {
  import spark.implicits._

  private val cachedLayoutKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  // every report of one compare, forced and rendered in a fixed order
  private def forcedCompare(src: DataFrame, tgt: DataFrame, params: DatasetParams): Seq[Seq[String]] = {
    val r = Comparison.compareDataFrames(spark, src, tgt, params)
    try
      Seq(sortedRows(r.overallTestReport), sortedRows(r.rowLvlTestReport),
        sortedRows(r.colLvlTestReport)) ++
        r.unmatchedRecords.toSeq.sortBy(_._1).map { case (k, df) => k +: sortedRows(df) }
    finally r.unpersist()
  }

  private val rnd = new scala.util.Random(20261018L)

  // single key, numeric tolerance: drops, duplicates, in- and out-of-tolerance drift
  private val srcA = (1L to 300L).map(k => (k, s"v$k", k * 1.5))
  private val tgtA = srcA.filter(_._1 > 5).map { case (k, v, x) =>
    if (k % 7 == 0) (k, v, x + 0.25) else if (k % 11 == 0) (k, v, x + 3.0)
    else if (k % 13 == 0) (k, v + "_x", x) else (k, v, x)
  } ++ srcA.filter(r => r._1 >= 40 && r._1 <= 44)

  // composite key, strings only
  private val srcB = for (a <- 1 to 20; b <- 1 to 10) yield (a, s"b$b", rnd.nextInt(50).toString)
  private val tgtB = srcB.map { case (a, b, v) => if ((a + b.length) % 5 == 0) (a, b, v + "!") else (a, b, v) } ++
    Seq((99, "b1", "new"))

  private val edges = (1 to 400).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    .filter { case (a, b) => a != b }

  private val jobs: Seq[() => Seq[Seq[String]]] = Seq(
    () => forcedCompare(srcA.toDF("id", "v", "x"), tgtA.toDF("id", "v", "x"),
      DatasetParams("a", Seq("id"), TestParams(differenceTolerance = 0.5))),
    () => forcedCompare(srcB.toDF("k1", "k2", "v"), tgtB.toDF("k1", "k2", "v"),
      DatasetParams("b", Seq("k1", "k2"))),
    () => Seq(sortedRows(Graphs.pageRank(edges.toDF("a", "b"), "a", "b", iters = 3))))

  test("two compares and a pageRank in parallel on one session match the serial run; no conf writes") {
    val confBefore = spark.conf.getAll
    // polls the caller's session every millisecond for an explicit
    // cached-layout entry, through the serial and the parallel runs
    val seen = new AtomicReference[Option[String]](None)
    val done = new AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!done.get()) {
        spark.conf.getAll.get(cachedLayoutKey).foreach(v => seen.compareAndSet(None, Some(v)))
        Thread.sleep(1)
      }
    }, "conf-poller")
    poller.setDaemon(true)
    poller.start()
    val pool = Executors.newFixedThreadPool(jobs.size)
    val (serial, parallel) =
      try {
        val serial = jobs.map(_())
        val futures = jobs.map(j => pool.submit(new Callable[Seq[Seq[String]]] { def call() = j() }))
        (serial, futures.map(_.get(10, TimeUnit.MINUTES)))
      } finally {
        pool.shutdown()
        done.set(true)
        poller.join()
      }
    assert(seen.get.isEmpty, s"an operator set $cachedLayoutKey=${seen.get.orNull} on the caller's session")
    assert(serial.forall(_.flatten.nonEmpty), "every job must produce rows")
    serial.zip(parallel).zipWithIndex.foreach { case ((s, p), i) =>
      assert(p == s, s"job $i: the parallel result differs from the serial run")
    }
    assert(spark.conf.getAll == confBefore, "the caller's session conf changed")
  }
}
