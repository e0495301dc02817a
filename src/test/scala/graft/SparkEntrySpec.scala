package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import org.apache.spark.JobExecutionStatus
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The per-JVM registry of shared build-once artifacts behind
  * SparkEntry's queries, and the warmup's chain runner. */
class SparkEntrySpec extends SparkTestBase {

  test("a failed checkpoint build is evicted: the next call rebuilds") {
    val key = s"throw_once_${System.nanoTime()}"
    var builds = 0
    val e = intercept[IllegalStateException] {
      SparkEntry.checkpointed(spark, key) {
        builds += 1
        throw new IllegalStateException("transient build failure")
      }
    }
    assert(e.getMessage == "transient build failure")
    // a cached failure would replay the error here without building
    val df = SparkEntry.checkpointed(spark, key) { builds += 1; (spark.range(3).toDF(), () => ()) }
    assert(df.count() == 3L)
    assert(builds == 2)
    // a successful build stays memoized
    SparkEntry.checkpointed(spark, key) { builds += 1; (spark.range(5).toDF(), () => ()) }
    assert(builds == 2)
  }

  test("a failed value build is evicted: the next call rebuilds") {
    val key = s"value_throw_once_${System.nanoTime()}"
    var builds = 0
    intercept[IllegalStateException] {
      SparkEntry.memo[Array[Long]](key) {
        builds += 1
        throw new IllegalStateException("transient fit failure")
      }
    }
    assert(SparkEntry.memo(key) { builds += 1; Array(1L, 2L) }.toSeq == Seq(1L, 2L))
    assert(SparkEntry.memo(key) { builds += 1; Array(9L) }.toSeq == Seq(1L, 2L))
    assert(builds == 2)
  }

  test("two threads calling one key run its build exactly once") {
    val key = s"shared_${System.nanoTime()}"
    val builds = new AtomicInteger()
    val building = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def caller() = new Thread(() => {
      results.add(SparkEntry.memo(key) {
        builds.incrementAndGet()
        building.countDown()
        finish.await()
        "built"
      })
      ()
    })
    val first = caller()
    first.start()
    assert(building.await(10, TimeUnit.SECONDS))
    // the second caller arrives while the first build is still running,
    // and parks on it
    val second = caller()
    second.start()
    eventually(timeout(Span(10, Seconds))) { assert(second.getState == Thread.State.WAITING) }
    finish.countDown()
    first.join(10000)
    second.join(10000)
    assert(builds.get == 1)
    assert(results.toArray.toSeq == Seq("built", "built"))
  }

  test("a failed chain cancels its siblings' Spark jobs and never starts a queued chain") {
    val sleepMs = 60000L
    val siblingJob = new AtomicReference[Integer]()
    val queuedStarted = new AtomicBoolean(false)
    val tracker = spark.sparkContext.statusTracker
    val chains: Seq[(String, () => Unit)] = Seq(
      "long_job" -> (() => {
        spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(sleepMs); i }.count()
        ()
      }),
      "thrower" -> (() => {
        eventually(timeout(Span(30, Seconds))) { assert(tracker.getActiveJobIds().nonEmpty) }
        siblingJob.set(tracker.getActiveJobIds().head)
        throw new IllegalStateException("chain failed")
      }),
      "sleeper_a" -> (() => Thread.sleep(sleepMs)),
      "sleeper_b" -> (() => Thread.sleep(sleepMs)),
      // a fifth chain waits for a free slot of the four
      "queued" -> (() => queuedStarted.set(true)))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](SparkEntry.runChains(spark, chains))
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "chain failed")
    assert(seconds < 30, s"returned after $seconds s")
    assert(!queuedStarted.get)
    eventually(timeout(Span(10, Seconds))) {
      assert(tracker.getJobInfo(siblingJob.get).map(_.status)
        .contains(JobExecutionStatus.FAILED))
      assert(tracker.getActiveJobIds().isEmpty)
    }
  }

  test("q_dedup_index_probe is memoized per documents table, not per sf tag") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val shared = (0 until 60).map(i => s"word$i").mkString(" ")
    def distinct(i: Int) = (0 until 60).map(j => s"doc${i}_$j").mkString(" ")
    // dir a: docs 0 and 1 are identical, so the probe (odd docs) finds
    // the index (even docs); dir b: every doc is distinct
    Seq("a" -> true, "b" -> false).foreach { case (d, dupe) =>
      (0 until 8).map(i => (i.toLong, if (dupe && i < 2) shared else distinct(i)))
        .toDF("doc_id", "text")
        .write.parquet(s"$root/$d/sf0.001/documents.parquet")
    }
    val probe = SparkEntry.queries("q_dedup_index_probe")
    assert(probe(spark, s"$root/a/sf0.001").count() > 0)
    assert(probe(spark, s"$root/b/sf0.001").count() == 0)
  }
}
