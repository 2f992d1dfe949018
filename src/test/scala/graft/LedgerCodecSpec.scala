package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The harness JSON codec ([[Json]]) against the committed gate files: its
  * tree reader returns exactly what the regex reader it replaced returned,
  * it rewrites each ledger byte for byte, and a ledger that exists but
  * does not parse fails loudly instead of grading a run as unreferenced. */
class LedgerCodecSpec extends AnyFunSuite with TempRoot {

  /** The regex reader the codec replaced (`Ledger.read`/`field`/`entries`,
    * BenchGate's flags regexes and ScaleSmoke's prior-ratio pattern), kept
    * verbatim as the reference implementation. */
  private object RegexReader {
    private val entryRe = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
    private val suspectsRe = """"suspects"\s*:\s*\[([^\]]*)\]""".r
    private val nameRe = """"([A-Za-z0-9_]+)"""".r
    private val countsRe = """"suspect_counts"\s*:\s*\{([^}]*)\}""".r
    private val countEntryRe = """"([A-Za-z0-9_]+)"\s*:\s*(\d+)""".r

    def read[A](path: String)(parse: String => Option[A]): Option[A] =
      try {
        val p = java.nio.file.Paths.get(path)
        if (!java.nio.file.Files.exists(p)) None
        else parse(java.nio.file.Files.readString(p))
      } catch { case scala.util.control.NonFatal(_) => None }

    def field(txt: String, key: String): Option[String] =
      s""""$key"\\s*:\\s*"?([^",}\\s]+)""".r.findFirstMatchIn(txt).map(_.group(1))

    def entries(txt: String, section: String): Map[String, Double] = {
      val body = txt.indexOf(s""""$section"""") match {
        case -1 => ""
        case i => txt.substring(i + section.length + 2)
      }
      entryRe.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }

    def benchRef(path: String): Option[BenchGate.Ref] =
      read(path)(txt => field(txt, "sf")
        .map(BenchGate.Ref(_, entries(txt, "host_norm_sec"))))

    def streamRef(path: String): Option[StreamGate.Ref] =
      read(path)(txt => field(txt, "n_events")
        .map(n => StreamGate.Ref(n.toInt, entries(txt, "norm_rps"))))

    def flagCounts(path: String, sf: String, now: Long): Map[String, Int] =
      read(path) { txt =>
        val oldEnough = field(txt, "written_at_ms").flatMap(_.toLongOption)
          .forall(w => now - w >= BenchGate.MinSampleGapMs)
        if (!oldEnough || !field(txt, "sf").contains(sf)) None
        else countsRe.findFirstMatchIn(txt) match {
          case Some(m) =>
            Some(countEntryRe.findAllMatchIn(m.group(1))
              .map(e => e.group(1) -> e.group(2).toInt).toMap)
          case None => suspectsRe.findFirstMatchIn(txt).map(m =>
            nameRe.findAllMatchIn(m.group(1)).map(_.group(1) -> 1).toMap)
        }
      }.getOrElse(Map.empty)

    def prevRatios(txt: String): Map[String, (Double, Double)] = {
      val re = """"([a-z0-9_]+)":\{"t_lo":[0-9.]+,"t_hi":([0-9.]+),"ratio":([0-9.]+)""".r
      re.findAllMatchIn(txt)
        .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble))
        .collect { case (q, th, r) if th > ScaleSmoke.AbsFloorSec => q -> (r, th) }.toMap
    }
  }

  private def bytes(path: String): Array[Byte] = Files.readAllBytes(Paths.get(path))
  private def text(path: String): String = new String(bytes(path), StandardCharsets.UTF_8)
  private def temp(prefix: String, content: Array[Byte]): String = {
    val p = tempFile(prefix, ".json")
    Files.write(p, content)
    p.toString
  }
  private def writtenAt(path: String): Long =
    Json.read(path).get.get("written_at_ms").asLong
  private val late = Long.MaxValue / 2

  test("the tree reader returns the regex reader's maps on the committed ledgers") {
    val bench = BenchGate.load("bench_ref.json")
    assert(bench.exists(_.norms.nonEmpty) && bench === RegexReader.benchRef("bench_ref.json"))
    val stream = StreamGate.load("stream_ref.json")
    assert(stream.exists(_.rps.nonEmpty) && stream === RegexReader.streamRef("stream_ref.json"))
    val flags = BenchGate.loadFlagCounts("bench_flags.json", "sf0.1", now = late)
    assert(flags.nonEmpty)
    val w = writtenAt("bench_flags.json")
    Seq(("sf0.1", late), ("sf0.001", late), ("sf0.1", w + 1)).foreach { case (sf, now) =>
      assert(BenchGate.loadFlagCounts("bench_flags.json", sf, now) ===
        RegexReader.flagCounts("bench_flags.json", sf, now), s"$sf at $now")
    }
    // the pre-round-19 flags shape: a suspects array and no counts
    val old = temp("bench_flags_r18", text("bench_flags.json")
      .replaceAll(""",\s*"suspect_counts"\s*:\s*\{[^}]*\}""", "")
      .getBytes(StandardCharsets.UTF_8))
    assert(!text(old).contains("suspect_counts"))
    assert(BenchGate.loadFlagCounts(old, "sf0.1", now = late) === flags.map(_._1 -> 1))
    assert(BenchGate.loadFlagCounts(old, "sf0.1", now = late) ===
      RegexReader.flagCounts(old, "sf0.1", late))
  }

  test("ScaleSmoke's prior read gives the regex's (ratio, t_hi) map on every committed SCALE_rN.json") {
    (10 to 19).foreach { n =>
      val txt = text(s"SCALE_r$n.json")
      val got = ScaleSmoke.priorRatios(s"r$n", txt)
      assert(got.nonEmpty, s"r$n")
      assert(got === RegexReader.prevRatios(txt), s"r$n")
    }
  }

  test("each committed ledger rewrites byte for byte") {
    val bench = BenchGate.load("bench_ref.json").get
    val b = temp("bench_ref", Array.emptyByteArray)
    BenchGate.save(b, bench.sf, bench.norms)
    assert(text(b) === text("bench_ref.json"))
    val stream = StreamGate.load("stream_ref.json").get
    val s = temp("stream_ref", Array.emptyByteArray)
    StreamGate.save(s, stream.n, stream.rps)
    assert(text(s) === text("stream_ref.json"))
    val f = temp("bench_flags", Array.emptyByteArray)
    BenchGate.saveFlagCounts(f, "sf0.1",
      BenchGate.loadFlagCounts("bench_flags.json", "sf0.1", now = late),
      now = writtenAt("bench_flags.json"))
    assert(text(f) === text("bench_flags.json"))
  }

  /** Copies of each committed ledger cut to nothing and to half. */
  private def truncated(file: String): Seq[String] = {
    val all = bytes(file)
    Seq(0, all.length / 2).map(n => temp(s"trunc_$file", all.take(n)))
  }

  test("a truncated copy of each committed ledger raises an error naming the file") {
    def raises(path: String)(load: => Any): Unit = {
      val e = intercept[IllegalStateException](load)
      assert(e.getMessage.contains(path), e.getMessage)
    }
    truncated("bench_ref.json").foreach(p => raises(p)(BenchGate.load(p)))
    truncated("stream_ref.json").foreach(p => raises(p)(StreamGate.load(p)))
    truncated("bench_flags.json").foreach(p =>
      raises(p)(BenchGate.loadFlagCounts(p, "sf0.1", now = late)))
    val scale = temp("SCALE_r19", bytes("SCALE_r19.json").take(500))
    raises("SCALE_r19.json")(ScaleSmoke.priorRatios("r19", text(scale)))
  }

  test("SPARK_GRAFT_UPDATE_REF leaves a ledger it could not read byte-unchanged") {
    truncated("bench_ref.json").foreach { p =>
      val before = bytes(p)
      intercept[IllegalStateException](BenchGate.update(p, "sf0.1", Map("q_new" -> 1.0)))
      assert(bytes(p) === before)
    }
    truncated("stream_ref.json").foreach { p =>
      val before = bytes(p)
      intercept[IllegalStateException](StreamGate.update(p, 200000, Map("new_cell" -> 1.0)))
      assert(bytes(p) === before)
    }
  }

  test("update merges into a readable ledger and seeds a missing one") {
    val p = temp("bench_ref_upd", Array.emptyByteArray)
    Files.delete(Paths.get(p))
    assert(BenchGate.update(p, "sf0.1", Map("q_a" -> 0.5)) === 0)
    assert(BenchGate.update(p, "sf0.1", Map("q_a" -> 0.7, "q_b" -> 0.2)) === 1)
    assert(BenchGate.load(p).get === BenchGate.Ref("sf0.1", Map("q_a" -> 0.5, "q_b" -> 0.2)))
  }

  test("an update at another scope than the ledger's throws and leaves the ledger byte-unchanged") {
    val bench = temp("bench_ref_scope", bytes("bench_ref.json"))
    val benchSf = BenchGate.load(bench).get.sf
    val e1 = intercept[IllegalStateException](
      BenchGate.update(bench, "sf0.001", Map("q5_region_revenue" -> 0.1)))
    Seq(bench, benchSf, "sf0.001").foreach(w => assert(e1.getMessage.contains(w), e1.getMessage))
    assert(bytes(bench) === bytes("bench_ref.json"))

    val stream = temp("stream_ref_scope", bytes("stream_ref.json"))
    val n = StreamGate.load(stream).get.n
    val e2 = intercept[IllegalStateException](
      StreamGate.update(stream, n + 1, Map("window_count" -> 1.0)))
    Seq(stream, n.toString, (n + 1).toString).foreach(w =>
      assert(e2.getMessage.contains(w), e2.getMessage))
    assert(bytes(stream) === bytes("stream_ref.json"))
  }

  test("an update at the ledger's own scope still merges into the committed ledgers") {
    val committed = BenchGate.load("bench_ref.json").get
    val bench = temp("bench_ref_same", bytes("bench_ref.json"))
    val (q, r) = committed.norms.head
    assert(BenchGate.update(bench, committed.sf, Map(q -> r / 2, "q_brand_new" -> 1.0)) ===
      committed.norms.size)
    assert(BenchGate.load(bench).get ===
      BenchGate.Ref(committed.sf, committed.norms + (q -> r / 2) + ("q_brand_new" -> 1.0)))

    val sref = StreamGate.load("stream_ref.json").get
    val stream = temp("stream_ref_same", bytes("stream_ref.json"))
    val (c, v) = sref.rps.head
    assert(StreamGate.update(stream, sref.n, Map(c -> v * 2, "new_cell" -> 5.0)) === sref.rps.size)
    assert(StreamGate.load(stream).get ===
      StreamGate.Ref(sref.n, sref.rps + (c -> v * 2) + ("new_cell" -> 5.0)))
  }

  test("numbers keep fixed digits, strings escape, non-finite values clamp") {
    val j = Json.render(Json.obj("d" -> 1.5, "n" -> Json.Num(58.0, 1), "i" -> 3,
      "l" -> 4L, "b" -> true, "none" -> None, "some" -> Some(0.25),
      "s" -> "a\"b\\c\td\u0001", "xs" -> Seq(Double.PositiveInfinity, Double.NaN),
      "o" -> Json.Obj(Seq("k" -> Json.Num(2.345, 0)))))
    assert(j === """{"d":1.500,"n":58.0,"i":3,"l":4,"b":true,"none":null,"some":0.250,""" +
      """"s":"a\"b\\c\td""" + "\\u0001" +
      """","xs":[9000000000.000,9000000000.000],"o":{"k":2}}""")
    intercept[IllegalArgumentException](Json.render(Map("k" -> 1)))
  }
}
