package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** Contract of [[Generators.writeCsvFilesWide]], the state-bound feed:
  * every emitted line must parse cleanly through the production
  * quarantine split, ids/timestamps must grow monotonically ACROSS
  * extension calls (a regression in either silently breaks watermark
  * advancement in [[BoundedStateSpec]]'s restart phases), and the user
  * domain must cover what was asked for. */
class WideGeneratorSpec extends SparkSpec {

  test("wide generator parses clean, extends monotonically, spans the key domain") {
    val dir = Files.createTempDirectory("widegen").toString
    Generators.writeCsvFilesWide(dir, seed = 5, files = 3, perFile = 200, users = 500)
    // extension call: the restart half — fileOffset/idOffset advanced
    Generators.writeCsvFilesWide(dir, seed = 6, files = 2, perFile = 100,
      users = 500, fileOffset = 3, idOffset = 600)

    val (good, bad) = StreamingPipelines.parseCsvQuarantine(
      spark.read.text(dir))
    assert(bad.count() === 0, "no line may fall to quarantine")
    val rows = good.selectExpr("event_id", "unix_micros(ts) AS us", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 3 * 200 + 2 * 100)
    // ids are exactly the contiguous range across both calls
    assert(rows.map(_._1).sorted.toSeq === (0L until 800L))
    // event time never regresses along the id order (jitter < step)
    val byId = rows.sortBy(_._1)
    assert(byId.sliding(2).forall { case Array(a, b) => b._2 > a._2 },
      "timestamps must be strictly increasing in id order")
    // key domain: bounded by `users`, and high-cardinality draws hit most of it
    val us = rows.map(_._3)
    assert(us.forall(u => u >= 1 && u <= 500))
    assert(us.distinct.length > 350, "uniform draw over 500 users must cover most keys")
  }

  test("json doc generator: misaligned extension calls never collide on file names") {
    val dir = Files.createTempDirectory("jsongen").toString
    Generators.writeJsonDocs(dir, seed = 7, files = 2, perFile = 5)
    // deliberately misaligned: idOffset is NOT a multiple of perFile — the
    // old file-index naming silently overwrote call 1's files here
    Generators.writeJsonDocs(dir, seed = 8, files = 2, perFile = 5, idOffset = 13)

    val names = new java.io.File(dir).list().toSeq.sorted
    assert(names === Seq("docs-0000000000.json", "docs-0000000005.json",
      "docs-0000000013.json", "docs-0000000018.json"),
      s"first-doc-id naming must keep misaligned calls disjoint: $names")
    val docs = spark.read.json(dir)
    assert(docs.count() === 20, "a silent overwrite would lose rows")
    assert(docs.select("doc_id").distinct().count() === 20,
      "non-overlapping id ranges must yield unique doc_ids")
  }
}
