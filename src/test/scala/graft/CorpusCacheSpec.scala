package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The round-20 CorpusCache lifecycle contract (round-19 verdict items
  * 2/3 + advice): an entry replaced by a fingerprint change must release
  * its predecessor's pinned executor-memory blocks IMMEDIATELY — not
  * whenever the GC-driven ContextCleaner notices — and `clear()` must do
  * the same for every live entry. Without this a long-lived session
  * accumulates orphaned localCheckpoint blocks, which at 100 TB is a
  * cluster-memory leak dressed up as a cache. */
class CorpusCacheSpec extends SparkSpec {

  private def pinnedRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd } match {
      case Seq(r) => r
      case other => fail(s"expected exactly one LogicalRDD leaf, got ${other.size}")
    }

  private def smallPin(tag: String) =
    Checkpoints.pin(spark.range(5).selectExpr(s"id", s"'$tag' AS t"))

  test("invalidation unpersists the replaced entry's pinned blocks immediately") {
    val s = spark
    val old = CorpusCache.memo(s, "/cc-spec", "inval")("fp-a")(smallPin("a"))
    val oldRdd = pinnedRdd(old)
    assert(oldRdd.getStorageLevel != StorageLevel.NONE,
      "vacuous — the pinned value's RDD was never persisted")

    val fresh = CorpusCache.memo(s, "/cc-spec", "inval")("fp-b")(smallPin("b"))
    assert(fresh.select("t").head().getString(0) == "b",
      "a changed fingerprint must recompute, not serve the stale value")
    assert(oldRdd.getStorageLevel == StorageLevel.NONE,
      "the replaced entry's blocks were not released on invalidation")
  }

  test("an unchanged fingerprint is a hit and keeps its blocks") {
    val s = spark
    var computes = 0
    def compute() = { computes += 1; smallPin("hit") }
    val first = CorpusCache.memo(s, "/cc-spec", "hit")("fp-x")(compute())
    val second = CorpusCache.memo(s, "/cc-spec", "hit")("fp-x")(compute())
    assert(computes == 1, s"hit path recomputed ($computes computes)")
    assert(pinnedRdd(first).getStorageLevel != StorageLevel.NONE)
    assert(second.collect().map(_.toString).sorted
      === first.collect().map(_.toString).sorted)
  }

  test("clear() releases every live entry's blocks") {
    val s = spark
    val v = CorpusCache.memo(s, "/cc-spec", "clear")("fp-c")(smallPin("c"))
    val rdd = pinnedRdd(v)
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    CorpusCache.clear()
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "clear() left pinned blocks behind")
  }

  test("invalidation releases a pin nested in an Option and a tuple") {
    val s = spark
    val old = CorpusCache.memo(s, "/cc-spec", "nested")("fp-a")(Some((1, smallPin("a"))))
    val oldRdd = pinnedRdd(old.get._2)
    assert(oldRdd.getStorageLevel != StorageLevel.NONE,
      "vacuous — the pinned value's RDD was never persisted")
    CorpusCache.memo(s, "/cc-spec", "nested")("fp-b")(Some((2, smallPin("b"))))
    assert(oldRdd.getStorageLevel == StorageLevel.NONE,
      "the replaced entry's nested pin was not released on invalidation")
  }
}
