package graft

import graft.core.Tables

class TablesSpec extends SparkSpec {

  test("a second Tables.vectors on one session reads the memoized table " +
       "and starts no job") {
    val s = spark.newSession()
    val first = Tables.vectors(s, sf0001)
    val (jobs, _) = jobsAndShuffle(Tables.vectors(s, sf0001))
    assert(jobs == 0, s"$jobs jobs for a second read")
    assert(Tables.vectors(s, sf0001).schema == first.schema)
  }
}
