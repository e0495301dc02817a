package graft

/** The per-JVM build-once checkpoint memo behind the kg_* queries. */
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
    val df = SparkEntry.checkpointed(spark, key) { builds += 1; spark.range(3).toDF() }
    assert(df.count() == 3L)
    assert(builds == 2)
    // a successful build stays memoized
    SparkEntry.checkpointed(spark, key) { builds += 1; spark.range(5).toDF() }
    assert(builds == 2)
  }
}
