package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventRankingAdmittedSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, h: Int = 0): Timestamp =
    new Timestamp((day * 86400L + h * 3600L) * 1000L)

  // (event_id, image_id, cluster_id, ts, value, label)
  private def log() = Seq(
    (1L, "a", 100L, ts(1, 1), 1.0, true),
    (2L, "b", 100L, ts(1, 2), 5.0, true),   // b duplicates a's content
    (3L, "c", 200L, ts(1, 3), 9.0, true),
    (4L, "d", -1L, ts(1, 4), 3.0, true),    // unassigned: never admitted
    (5L, "q", 999L, ts(2, 0), 5.0, true)    // the query event
  ).toDF("event_id", "image_id", "cluster_id", "ts", "value", "label")

  private val hashes = Seq(("a", 7L), ("b", 7L), ("c", 8L), ("d", 9L), ("q", 1L))
    .toDF("image_id", "content_hash")

  /** Admission then the replay ranking, as q22 and q37 run them: (cluster_id,
    * cluster_score, rank) for the query event, a two-day window. */
  private def admittedRanking(dupAttach: Boolean): Seq[(Long, Double, Int)] =
    EventRanking.replayRank(
        EventReplay.admitted(log(), hashes, onlyLabeled = true, dupAttach = dupAttach),
        queryFilter = col("image_id") === "q",
        score = -abs(col("q_val") - col("c_val")),
        forgetDays = 2, retrievalTopN = 10, k = 10, minScore = -100.0)
      .select("cluster_id", "cluster_score", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq

  test("dupAttach=false drops later same-content events before ranking") {
    val got = admittedRanking(dupAttach = false)
    // event 2 (image b, same content hash as a) is not admitted, so cluster
    // 100's best is event 1: -|5-1| = -4; cluster 200: -|5-9| = -4; tie
    // breaks by cluster_id
    assert(got == Seq((100L, -4.0, 1), (200L, -4.0, 2)))
  }

  test("dupAttach=true keeps the duplicate before ranking") {
    val got = admittedRanking(dupAttach = true)
    // event 2 admitted: cluster 100's best is -|5-5| = 0
    assert(got == Seq((100L, 0.0, 1), (200L, -4.0, 2)))
  }
}
