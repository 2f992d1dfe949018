package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Job 9, the streaming corpus capstone: curate -> decontaminate -> pack
  * end to end over a monitored JSON directory, with contaminated docs
  * quarantined and clean docs packed into token-budget bins.
  */
class CorpusPipelineSpec extends SparkSpec {

  private def jline(id: Long, sec: Long, text: String): String =
    s"""{"doc_id":$id,"ts_s":$sec,"text":"$text","lang":"en"}"""

  test("job 9: curated clean docs are packed; contaminated docs quarantined") {
    withRocksDb {
    val s = spark
    import s.implicits._
    val d = Jobs.Dirs(
      Files.createTempDirectory("corpus-in").toString,
      Files.createTempDirectory("corpus-out").toString,
      Files.createTempDirectory("corpus-ck").toString)

    val evalText = (1 to 20).map(i => s"eval$i").mkString(" ")
    val grams = StreamingPipelines.evalGramSet(
      Seq((900L, evalText)).toDF("doc_id", "text"))

    val good1 = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val good2 = (1 to 40).map(i => s"beta$i").mkString(" ")
    val junk = Seq.fill(40)("the a").mkString(" ") // fails quality gate
    val dirty = "prefix " + evalText + " " + (1 to 20).map(i => s"pad$i").mkString(" ")

    Files.writeString(Paths.get(d.in, "b1.json"),
      Seq(
        jline(1, 10, good1),
        jline(2, 11, junk),
        jline(3, 12, dirty),
        jline(4, 13, good1.toUpperCase), // normalized duplicate of 1
        jline(9, 14, good2)).mkString("", "\n", "\n"))

    val (qPacked, qQuarantine, qSpill) = Jobs.corpusPipeline(s, d, grams)
    try {
      qPacked.processAllAvailable(); qQuarantine.processAllAvailable()
      qSpill.processAllAvailable()
    } finally { qPacked.stop(); qQuarantine.stop(); qSpill.stop() }

    val packedIds = s.read.parquet(s"${d.out}/packed")
      .select("doc_id").as[Long].collect().toSet
    assert(packedIds === Set(1L, 9L)) // junk gated, dirty routed, dup dropped
    // ids 1 and 9 hash to the SAME shard (mod 8), so they share a bin chain
    val packed = s.read.parquet(s"${d.out}/packed")
      .selectExpr("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(packed(1L) === 40L && packed(9L) === 40L)
    val quarantined = s.read.parquet(s"${d.out}/contaminated")
      .select("doc_id").as[Long].collect().toSet
    assert(quarantined === Set(3L))
    // 5 docs, all one implicit source, quota 8: nothing spills
    assert(s.read.parquet(s"${d.out}/spill").isEmpty)

    // Phase 2: RESTART on the same checkpoints — new query objects, a new
    // file. The packer's (bin, fill) state must recover: docs 1 and 9
    // filled shard 1's bin to 80 of 2048 tokens, so doc 17 (same shard,
    // 40 tokens) lands in that bin at offset 80 — not at offset 0.
    val good3 = (1 to 40).map(i => s"gamma$i").mkString(" ")
    Files.writeString(Paths.get(d.in, "b2.json"),
      jline(17, 20, good3) + "\n")
    val (qPacked2, qQuarantine2, qSpill2) = Jobs.corpusPipeline(s, d, grams)
    try {
      qPacked2.processAllAvailable(); qQuarantine2.processAllAvailable()
      qSpill2.processAllAvailable()
    } finally { qPacked2.stop(); qQuarantine2.stop(); qSpill2.stop() }
    val after = s.read.parquet(s"${d.out}/packed")
      .selectExpr("doc_id", "bin", "bin_offset").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(after.keySet === Set(1L, 9L, 17L))
    assert(after(17L)._1 === after(1L)._1, "restart lost the packer's bin state")
    assert(after(17L)._2 === 80L, s"expected offset 80 after 2x40 tokens, got ${after(17L)}")
    // phase-1 rows not re-emitted (exactly-once file sink across restart)
    assert(s.read.parquet(s"${d.out}/packed").count() === 3)
    }
  }

  private def jlineSrc(id: Long, sec: Long, text: String, src: String): String =
    s"""{"doc_id":$id,"ts_s":$sec,"text":"$text","lang":"en","source":"$src"}"""

  test("job 9: over-quota docs spill per source; quota counts cross batches") {
    withRocksDb {
    val s = spark
    import s.implicits._
    val d = Jobs.Dirs(
      Files.createTempDirectory("quota-in").toString,
      Files.createTempDirectory("quota-out").toString,
      Files.createTempDirectory("quota-ck").toString)
    val grams = StreamingPipelines.evalGramSet(
      Seq((900L, (1 to 20).map(i => s"eval$i").mkString(" "))).toDF("doc_id", "text"))

    def good(seed: String) = (1 to 40).map(i => s"$seed$i").mkString(" ")
    Files.writeString(Paths.get(d.in, "b1.json"),
      Seq(
        jlineSrc(1, 10, good("alpha"), "crawlA"),
        jlineSrc(2, 11, good("beta"), "crawlA"),
        jlineSrc(3, 12, good("gamma"), "crawlB")).mkString("", "\n", "\n"))
    val (p1, q1, s1) = Jobs.corpusPipeline(s, d, grams, quota = 2L)
    try {
      p1.processAllAvailable(); q1.processAllAvailable(); s1.processAllAvailable()
    } finally { p1.stop(); q1.stop(); s1.stop() }
    assert(s.read.parquet(s"${d.out}/packed")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))

    // batch 2: crawlA is at its quota (2 admitted), crawlB has room
    Files.writeString(Paths.get(d.in, "b2.json"),
      Seq(
        jlineSrc(4, 20, good("delta"), "crawlA"),
        jlineSrc(5, 21, good("epsil"), "crawlB")).mkString("", "\n", "\n"))
    val (p2, q2, s2) = Jobs.corpusPipeline(s, d, grams, quota = 2L)
    try {
      p2.processAllAvailable(); q2.processAllAvailable(); s2.processAllAvailable()
    } finally { p2.stop(); q2.stop(); s2.stop() }
    assert(s.read.parquet(s"${d.out}/packed")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 5L))
    val spilled = s.read.parquet(s"${d.out}/spill")
      .selectExpr("doc_id", "source").as[(Long, String)].collect().toSet
    assert(spilled === Set((4L, "crawlA"))) // counter survived the restart
    }
  }
}
