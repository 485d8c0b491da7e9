package graft.queries

import graft.SparkSpec

/** q244 drives the real §2.10 executors end-to-end (Staging.stage →
  * runSnapshot / runCollection / runTraffic×2); the DuckDB oracle gates
  * values. This spec pins the two MERGE decisions that make the composite
  * non-trivial, so a regression in the ternary or the carry-forward fails
  * loudly here (not just as a hash diff):
  *  - P6 effective-ts ternary: day-1 rows of users ≡0 (mod 7) carry a
  *    far-future deleted_at, so their day-1 version must beat day-2.
  *  - collection §2.10(b): users present only in day 1 carry forward.
  */
class ProcessDailyCompositeSpec extends SparkSpec {
  test("q244: deleted-at ternary flips winners; both crawl days survive the merge") {
    val out = Lifecycle.q244ProcessDaily(spark, "/root/testdata/sf0.001")
    val snap = out.where("section = 'snapshot'")
      .select("user_id", "s1").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\|").last).toMap
    assert(snap.nonEmpty)
    val day1Winners = snap.filter(_._2 == "2024-01-01").keySet
    val day2Winners = snap.filter(_._2 == "2024-01-02").keySet
    assert(day1Winners.nonEmpty, "no day-1 winner — the P6 ternary is dead")
    assert(day2Winners.nonEmpty, "no day-2 winner — merge always prefers day 1?")
    // every mod-7 user present in BOTH days must resolve to day 1 (its
    // deleted_at = global max + 1 day outranks any day-2 processed_at)
    val bothDays = day1Winners ++ day2Winners
    val flipped = bothDays.filter(u => u % 7 == 0 && day2Winners.contains(u))
    // mod-7 users only appear among day-2 winners if they were ABSENT from
    // day 1 (nothing to carry) — cross-check via the collection section
    val collUsers = out.where("section = 'collection'")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(collUsers == bothDays, "collection and snapshot user sets diverge")
    // traffic sections exist in both modes and corrected ⊇ faithful
    val tf = out.where("section = 'traffic_f'").count()
    val tc = out.where("section = 'traffic_c'").count()
    assert(tf > 0 && tc >= tf, s"traffic rows faithful=$tf corrected=$tc")
    assert(flipped.forall(u => !day1Winners.contains(u)))
  }
}

/** The shared executor fan-out (q244's days, ProcessDaily) releases what
  * it holds on failure. */
class FanOutSpec extends SparkSpec {
  test("fanOut: a failing executor frees the staged cache after its siblings finish") {
    import java.util.concurrent.atomic.AtomicBoolean
    val staged = spark.range(100).toDF("id")
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      graft.core.FanOut(staged, 2) { d =>
        d.count()
        Seq(
          () => throw new IllegalStateException("injected executor failure"),
          () => { Thread.sleep(300); d.count(); siblingDone.set(true) })
      }
    }
    assert(e.getMessage == "injected executor failure")
    assert(siblingDone.get, "the failure was rethrown while a sibling still ran")
    assert(staged.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the staged frame is still cached after a failed fan-out")
  }
}
