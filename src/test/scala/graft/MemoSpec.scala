package graft

import graft.model.{Memo, Tables}
import graft.queries.SimilarityQueries

/** The library-wide memo: nesting, clearing and per-session keys. */
class MemoSpec extends SparkSpec {

  test("a builder that memoizes other entries in its namespace returns") {
    // 64 outer builds, each inserting two nested entries: with a
    // computeIfAbsent memo some inner key lands in the bin the outer
    // call holds and the insert throws "Recursive update"
    val got = (0 until 64).map { i =>
      Memo(spark, "memo-spec-nest", "outer", i) {
        Memo(spark, "memo-spec-nest", "inner", i) {
          Memo(spark, "memo-spec-nest", "leaf", i)(i) * 2
        } + 1
      }
    }
    assert(got == (0 until 64).map(_ * 2 + 1))
    assert(Memo[Int](spark, "memo-spec-nest", "inner", 5)(fail("rebuilt")) == 10)
  }

  test("after Tables.clearCaches the next call rebuilds") {
    var builds = 0
    def get(): Int = Memo(spark, "memo-spec-clear", sf0001, "tag") { builds += 1; builds }
    assert(get() == 1)
    assert(get() == 1)
    Tables.clearCaches(spark)
    assert(get() == 2)
    assert(builds == 2)
  }

  test("two sessions asking for the same (dir, tag) get different frames") {
    val other = spark.newSession()
    val a = SimilarityQueries.semAssigned(spark, sf0001)
    val b = SimilarityQueries.semAssigned(other, sf0001)
    assert(a ne b)
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq other)
    assert(SimilarityQueries.semAssigned(spark, sf0001) eq a)
    assert(SimilarityQueries.semAssigned(other, sf0001) eq b)
  }
}
