package graft

import graft.ops.AsOfJoin

/** Each query pays for its own work, and no operator pins anything its
  * caller did not ask for: running the as-of merge and the query families
  * whose relations overlap (ann top-k / LSH / recall, image seconds ceil /
  * floor) in one session must leave the persisted-RDD set as it found it. */
class NoHiddenPinsSpec extends SparkSpec {
  import spark.implicits._

  test("asOfMerge and the ann / image_seconds queries leave no persisted RDDs behind") {
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned
    val build = Seq(("e0", 1L, 1.0), ("e0", 5L, 2.0), ("e1", 3L, 3.0)).toDF("entity", "ts", "v")
    val probes = Seq(("e0", 4L), ("e0", 9L), ("e1", 2L)).toDF("entity", "ts")
    // results stay referenced until the check: persistent RDDs are tracked
    // weakly, so a dropped result could hide a pin from the assertion
    val merged = AsOfJoin.asOfMerge(probes, build, "entity", "ts", Seq("v"), 4L)
    assert(merged.collect().length == 3)
    val results = Seq(
      "q_ann_recall", "q_ann_lsh", "q_ann_topk", "q_image_seconds_ceil", "q_image_seconds_floor"
    ).map { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.01")
      assert(df.collect().nonEmpty, s"$q returned no rows")
      df
    }
    val leaked = pinned -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    java.lang.ref.Reference.reachabilityFence(merged)
    java.lang.ref.Reference.reachabilityFence(results)
  }
}
