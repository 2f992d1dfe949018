package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The scale gate's verdict, prior-artifact choice, argument parse and
  * fixture-reuse decision — all pure, so none of this builds the x4/x100
  * fixtures. The golden case replays the committed SCALE_r19.json times
  * (prior SCALE_r18.json) through [[ScaleSmoke.verdict]]. */
class ScaleSmokeSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
  private def fields(node: JsonNode): Seq[(String, JsonNode)] =
    node.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
  private def time(node: JsonNode): Option[Double] =
    Option(node).filterNot(_.isNull).map(_.asDouble)
  /** Whether a recorded ratio is the verdict's t_hi / max(t_lo, 0.05)
    * for SOME unrounded times behind the artifact's 2-dp `t_lo`/`t_hi`
    * (each ±0.005), itself printed to 2 dp. A flat ±0.01 cannot hold:
    * re-deriving from the rounded times moves small-denominator ratios
    * by up to 0.05 (a2_running_sum: 1.26 / 0.33 = 3.82, recorded 3.78). */
  private def consistent(ratio: Double, cell: JsonNode): Boolean = {
    val (tl, th) = (cell.get("t_lo").asDouble, cell.get("t_hi").asDouble)
    val lo = (th - 0.005) / math.max(tl + 0.005, ScaleSmoke.LoClampSec)
    val hi = (th + 0.005) / math.max(tl - 0.005, ScaleSmoke.LoClampSec)
    ratio >= lo - 0.005 - 1e-9 && ratio <= hi + 0.005 + 1e-9
  }

  private def run(cells: (String, Option[Double], Option[Double])*): JsonNode = {
    val v = ScaleSmoke.verdict(
      cells.map(c => c._1 -> c._2).toMap, cells.map(c => c._1 -> c._3).toMap,
      prior = None, cores = 4, queries = cells.map(_._1))
    mapper.readTree(v.json)
  }

  test("golden: SCALE_r19's times and SCALE_r18 as prior reproduce SCALE_r19") {
    val r19 = mapper.readTree(read("SCALE_r19.json"))
    val cells = fields(r19.get("queries"))
    assert(cells.map(_._1) === ScaleSmoke.organicSubset,
      "the gate's query list is SCALE_r19's, in order")
    val v = ScaleSmoke.verdict(
      cells.map { case (q, c) => q -> time(c.get("t_lo")) }.toMap,
      cells.map { case (q, c) => q -> time(c.get("t_hi")) }.toMap,
      prior = Some("r18" -> read("SCALE_r18.json")), cores = 8)
    val out = mapper.readTree(v.json)

    assert(fields(out).map(_._1).toSet === fields(r19).map(_._1).toSet + "prev_tag" + "cores")
    assert(out.get("prev_tag").asText === "r18")
    assert(out.get("cores").asInt === 8)
    Seq("mode", "fixture", "mult_lo", "mult_hi", "ratio_max", "abs_floor_sec",
      "failed", "pass").foreach(k => assert(out.get(k) === r19.get(k), k))
    assert(v.pass === r19.get("pass").asBoolean)
    cells.foreach { case (q, want) =>
      val got = out.get("queries").get(q)
      Seq("t_lo", "t_hi", "pass").foreach(k => assert(got.get(k) === want.get(k), s"$q.$k"))
      val derived = got.get("ratio").asDouble
      assert(consistent(derived, want) && consistent(want.get("ratio").asDouble, want),
        s"$q: derived $derived, recorded ${want.get("ratio")}")
    }
    val wantFams = fields(r19.get("families"))
    assert(fields(out.get("families")).map(_._1) === wantFams.map(_._1))
    wantFams.foreach { case (fam, want) =>
      val got = out.get("families").get(fam)
      Seq("n", "worst", "worst_t_hi", "prev_max_ratio", "prev_max_t_hi", "prev_worst")
        .foreach(k => assert(got.get(k) === want.get(k), s"$fam.$k"))
      val worst = r19.get("queries").get(want.get("worst").asText)
      assert(consistent(want.get("max_ratio").asDouble, worst), fam)
      assert(got.get("max_ratio") === out.get("queries").get(want.get("worst").asText).get("ratio"),
        s"$fam: the family max is its worst member's ratio")
    }
  }

  test("a ratio of exactly 20 passes; above 20 fails unless t_hi <= 2.0 s") {
    val out = run(
      ("at_bound", Some(1.0), Some(20.0)),
      ("over", Some(0.5), Some(10.5)),
      ("over_exempt", Some(0.05), Some(2.0)))
    val q = out.get("queries")
    assert(q.get("at_bound").get("ratio").asDouble === 20.0)
    assert(q.get("at_bound").get("pass").asBoolean)
    assert(q.get("over").get("ratio").asDouble === 21.0)
    assert(!q.get("over").get("pass").asBoolean)
    assert(q.get("over_exempt").get("ratio").asDouble === 40.0)
    assert(q.get("over_exempt").get("pass").asBoolean)
    assert(out.get("failed").elements().asScala.map(_.asText).toSeq === Seq("over"))
    assert(!out.get("pass").asBoolean)
  }

  test("a crash at either scale gives ratio null, pass false, and a failed entry") {
    val out = run(
      ("ok", Some(1.0), Some(3.0)),
      ("crash_hi", Some(1.0), None),
      ("crash_lo", None, Some(1.0)))
    val q = out.get("queries")
    Seq("crash_hi", "crash_lo").foreach { c =>
      assert(q.get(c).get("ratio").isNull, c)
      assert(!q.get(c).get("pass").asBoolean, c)
    }
    assert(q.get("crash_hi").get("t_lo").asDouble === 1.0)
    assert(q.get("crash_hi").get("t_hi").isNull)
    assert(out.get("failed").elements().asScala.map(_.asText).toSeq === Seq("crash_hi", "crash_lo"))
    assert(!ScaleSmoke.verdict(Map.empty, Map.empty, None, 4, Seq("missing")).pass,
      "a query with no timing at all is a crash")
  }

  test("t_lo below 0.05 s is clamped in the ratio's denominator") {
    val q = run(
      ("tiny_lo", Some(0.01), Some(0.9)),
      ("tiny_lo_slow", Some(0.01), Some(3.0))).get("queries")
    assert(q.get("tiny_lo").get("ratio").asDouble === 18.0)
    assert(q.get("tiny_lo").get("t_lo").asDouble === 0.01, "the recorded time is not clamped")
    assert(q.get("tiny_lo_slow").get("ratio").asDouble === 60.0)
    assert(!q.get("tiny_lo_slow").get("pass").asBoolean)
  }

  test("exempt cells are left out of the family max") {
    val fams = run(
      ("q_hll_sketch", Some(0.05), Some(1.9)), // ratio 38, exempt
      ("q_count_distinct", Some(1.0), Some(3.0)),
      ("q1_pricing_summary", Some(0.1), Some(1.0)) // relational, exempt
    ).get("families")
    assert(fields(fams).map(_._1) === Seq("sketch"), "an all-exempt family is absent")
    val sketch = fams.get("sketch")
    assert(sketch.get("n").asInt === 1)
    assert(sketch.get("max_ratio").asDouble === 3.0)
    assert(sketch.get("worst").asText === "q_count_distinct")
    assert(sketch.get("prev_max_ratio").isNull && sketch.get("prev_worst").isNull)
  }

  test("the prior is the newest committed SCALE_rM.json with M < N, recorded as prev_tag") {
    val files = Seq("SCALE_r18.json", "SCALE_r19.json", "SCALE_rX.json",
      "SCALE_r9.json", "BENCH_r20.json", "SCALE_r20.json.bak")
    assert(ScaleSmoke.priorTag("r21", files) === Some("r19"), "r20 was never written")
    assert(ScaleSmoke.priorTag("r19", files) === Some("r18"))
    assert(ScaleSmoke.priorTag("r10", files) === Some("r9"))
    assert(ScaleSmoke.priorTag("r9", files) === None)
    assert(ScaleSmoke.priorTag("rX", files) === Some("r19"))
    val committed = Option(new java.io.File(".").list()).toSeq.flatten
    assert(ScaleSmoke.priorTag("r21", committed) === Some("r19"))

    val prior = Some("r19" -> read("SCALE_r19.json"))
    val out = mapper.readTree(ScaleSmoke.verdict(
      Map("q_percentiles" -> Some(1.0)), Map("q_percentiles" -> Some(12.0)),
      prior, 4, Seq("q_percentiles")).json)
    assert(out.get("prev_tag").asText === "r19")
    val fam = out.get("families").get("exact_percentile")
    assert(fam.get("prev_max_ratio").asDouble === 11.18)
    assert(fam.get("prev_max_t_hi").asDouble === 16.55)
    assert(fam.get("prev_worst").asText === "q_percentiles")
    assert(mapper.readTree(ScaleSmoke.verdict(Map.empty, Map.empty, None, 4, Nil).json)
      .get("prev_tag").isNull)
  }

  test("main accepts only `gate [rN]`") {
    assert(ScaleSmoke.parseArgs(Seq("gate")) === Some("rX"))
    assert(ScaleSmoke.parseArgs(Seq("gate", "r21")) === Some("r21"))
    Seq(Seq(), Seq("16"), Seq("organic"), Seq("gate", "skew"), Seq("gate", "r21", "x"),
      Seq("16", "gate"), Seq("gate", "21")).foreach { a =>
      assert(ScaleSmoke.parseArgs(a) === None, a.mkString(" "))
    }
  }

  test("a fixture is rebuilt when its sentinel is missing, empty or stale") {
    val stamp = "organic v2 x4\nevents.parquet\t10\t1000\n"
    assert(ScaleSmoke.rebuildReason(Some(stamp), stamp) === None)
    assert(ScaleSmoke.rebuildReason(None, stamp).isDefined)
    assert(ScaleSmoke.rebuildReason(Some(""), stamp).exists(_.contains("predates")))
    val drifted = ScaleSmoke.rebuildReason(Some(stamp.replace("1000", "2000")), stamp)
    assert(drifted.exists(r => r.contains("events.parquet\t10\t2000") && r.contains("1000")))
  }

  test("the fixture stamp covers every source parquet file's path, size and mtime") {
    val root = Files.createTempDirectory("graft_stamp")
    try {
      Files.createDirectories(root.resolve("lineitem.parquet"))
      val a = Files.writeString(root.resolve("events.parquet"), "abc")
      val b = Files.writeString(root.resolve("lineitem.parquet/part-0.parquet"), "de")
      Files.writeString(root.resolve("_SUCCESS"), "")
      val s0 = ScaleSmoke.fixtureStamp(root.toString, 4)
      assert(s0.linesIterator.toSeq.head === "organic v2 x4")
      assert(s0.linesIterator.size === 3, "two parquet files, no other file")
      assert(s0.contains("events.parquet\t3\t") && s0.contains("lineitem.parquet/part-0.parquet\t2\t"))
      assert(ScaleSmoke.fixtureStamp(root.toString, 4) === s0, "deterministic")
      assert(ScaleSmoke.fixtureStamp(root.toString, 100) !== s0, "the multiplier is stamped")
      a.toFile.setLastModified(a.toFile.lastModified() - 60000L)
      val s1 = ScaleSmoke.fixtureStamp(root.toString, 4)
      assert(s1 !== s0, "a regenerated source (new mtime) is noticed")
      val bTime = b.toFile.lastModified()
      Files.writeString(b, "defg")
      b.toFile.setLastModified(bTime)
      assert(ScaleSmoke.fixtureStamp(root.toString, 4) !== s1, "a size change is noticed")
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
