package graft

import graft.operators.Upsert
import org.scalatest.funsuite.AnyFunSuite

/** CDC compaction pin: the newest row per key wins, with an explicit
  * tiebreak for same-key-same-ts changes. */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val changes = Seq(
    (1L, 20L, "a-v2", false),
    (2L, 20L, "b-del", true), // a tombstone is just another version here
    (3L, 5L, "c-stale", false),
    (4L, 20L, "d-new", false),
    (4L, 15L, "d-old", false) // superseded within the same change set
  ).toDF("k", "ts", "v", "is_delete")

  test("latestSnapshot keeps exactly the newest row per key") {
    val snap = Upsert.latestSnapshot(changes, Seq("k"), "ts", tiebreak = Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(snap == Map(1L -> "a-v2", 2L -> "b-del", 3L -> "c-stale", 4L -> "d-new"))
  }
}
