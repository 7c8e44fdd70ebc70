package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(store: BucketedStore, asOf: Option[Long] = None) =
    store.read("f", Seq("id"), asOf).as[(Int, String)].collect().sortBy(_._1).toSeq

  test("versioned writes + time travel") {
    val store = new BucketedStore(tmpDir("store"), numBuckets = 4)
    val v0 = store.write(Seq((1, "a"), (2, "b")).toDF("id", "x"), "f", Seq("id"))
    val v1 = store.write(Seq((1, "a2"), (2, "b"), (3, "c")).toDF("id", "x"), "f", Seq("id"))
    assert(v0 == 0 && v1 == 1)
    assert(rows(store) == Seq((1, "a2"), (2, "b"), (3, "c")))
    assert(rows(store, Some(0)) == Seq((1, "a"), (2, "b")))
    assert(store.versions("f") == Seq(0L, 1L))
  }

  test("merge upserts by key and keeps unmatched rows") {
    val store = new BucketedStore(tmpDir("store"), numBuckets = 4)
    store.write(Seq((1, "a"), (2, "b")).toDF("id", "x"), "f", Seq("id"))
    store.merge("f", Seq((2, "B!"), (3, "c")).toDF("id", "x"), Seq("id"))
    assert(rows(store) == Seq((1, "a"), (2, "B!"), (3, "c")))
    // time travel still sees the pre-merge state
    assert(rows(store, Some(0)) == Seq((1, "a"), (2, "b")))
  }

  test("reading a missing feature or version fails") {
    val store = new BucketedStore(tmpDir("store"), numBuckets = 4)
    intercept[IllegalArgumentException](store.read("nope", Seq("id")))
    store.write(Seq((1, "a")).toDF("id", "x"), "f", Seq("id"))
    intercept[java.io.FileNotFoundException](store.read("f", Seq("id"), Some(5)))
  }

  test("vacuum keeps the newest versions and removes the rest") {
    val store = new BucketedStore(tmpDir("store"), numBuckets = 4)
    (0 until 4).foreach(i => store.write(Seq((i, s"v$i")).toDF("id", "x"), "f", Seq("id")))
    val dropped = store.vacuum("f", keepVersions = 2)
    assert(dropped.map(_.takeWhile(_ != '/')).distinct.sorted == Seq("files_v0", "files_v1"))
    assert(rows(store) == Seq((3, "v3")))
    assert(rows(store, Some(2)) == Seq((2, "v2")))
    intercept[IllegalStateException](store.read("f", Seq("id"), Some(0)))
  }

  test("review workflow: pending -> decide -> approved-only serving gate") {
    val store = new BucketedStore(tmpDir("store"), numBuckets = 4)
    def scored(asOf: Option[Long] = None) = store.read("scored", Seq("id"), asOf)
    val stamped = Review.stampPending(Seq((1, 0.9), (2, 0.2), (3, 0.7)).toDF("id", "score"))
    store.write(stamped, "scored", Seq("id"))
    assert(Review.pendingQueue(scored()).count() == 3)
    // reviewer approves high scores, rejects the low one
    val decided = Review.decide(
      Review.decide(scored(), col("score") >= 0.5, Review.Approved),
      col("score") < 0.5, Review.Rejected)
    store.write(decided, "scored", Seq("id"))
    val served = Review.approvedOnly(scored()).select("id").as[Int].collect().sorted
    assert(served.toSeq == Seq(1, 3))
    assert(Review.stats(scored()) == Map("approved" -> 2L, "rejected" -> 1L))
    // pre-review state still time-travelable
    assert(Review.pendingQueue(scored(Some(0))).count() == 3)
  }
}
