package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Measure, SparkEntry, SparkSpec, Tables}

/** The documents-derived [[graft.CorpusCache]] entries (LSH candidate
  * pairs, BPE merges, media perceptual pairs) are guarded by the
  * documents file's stamp: a file rewritten in place is recomputed, and
  * a repeat construction on an unchanged file starts no Spark job. The
  * same holds for the content hash [[IvfPqIndex.ensure]] compares. */
class StampedCacheSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val docQueries = Seq("d_minhash_lsh_pairs", "t_bpe_merges", "m_media_neardup")

  private def collected(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Spark jobs `body` starts, counted by a listener. */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Long) = {
    val jobs = new Measure.JobCounter(s.sparkContext)
    try {
      val v = body
      (v, jobs.count())
    } finally jobs.close()
  }

  /** The one parquet file Spark wrote under `dir`. */
  private def partFile(dir: String) = {
    val files = Files.list(Paths.get(dir))
    try files.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally files.close()
  }

  test("a documents file rewritten in place is recomputed, for every doc-corpus cache") {
    val s = spark.newSession()
    // the new content: every third document dropped, as one parquet file
    val staged = tempDir("stamped_new")
    Tables.t(s, sfDir, "documents").filter(col("doc_id") % 3 =!= 0)
      .coalesce(1).write.parquet(s"$staged/out")
    val fresh = tempDir("stamped_fresh")
    Files.copy(partFile(s"$staged/out"), Paths.get(Tables.path(fresh, "documents")))

    for (q <- docQueries) {
      val dir = tempDir(s"stamped_$q")
      val target = Paths.get(Tables.path(dir, "documents"))
      Files.copy(Paths.get(Tables.path(sfDir, "documents")), target)
      val before = collected(SparkEntry.queries(q)(s, dir))
      assert(before.nonEmpty, s"vacuous — $q returned nothing")
      Files.copy(partFile(s"$staged/out"), target, StandardCopyOption.REPLACE_EXISTING)
      val after = collected(SparkEntry.queries(q)(s, dir))
      assert(after === collected(SparkEntry.queries(q)(s, fresh)),
        s"$q served a stale value after documents changed in place")
      assert(after !== before, s"vacuous — $q gave the same answer on both corpora")
    }
  }

  test("a second construction of each doc-corpus query starts no Spark job") {
    val s = spark.newSession()
    for (q <- docQueries) {
      SparkEntry.queries(q)(s, sfDir)
      val (_, again) = jobsOf(s)(SparkEntry.queries(q)(s, sfDir))
      assert(again == 0, s"$q: a warm construction started $again jobs")
    }
  }

  test("a second IvfPqIndex.ensure on an unchanged corpus starts no Spark job") {
    val s = spark.newSession()
    val root = tempDir("stamped_ivfpq") + "/index"
    val built = IvfPqIndex.ensure(s, sfDir, root, pristineOnly = true)
    assert(built.nonEmpty, "vacuous — the corpus could not carry an index")
    val (again, jobs) = jobsOf(s)(IvfPqIndex.ensure(s, sfDir, root, pristineOnly = true))
    assert(again === built, "an unchanged corpus rebuilt its index")
    assert(jobs == 0, s"a warm ensure started $jobs jobs")
  }
}
