package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.streaming.{Ev, StreamingPipelines}

/** Property tests (SURVEY.md §5.2): parse round-trip, window-count
  * conservation, sessionizer non-negativity. scalacheck generators drive
  * the cases; sampling is manual (no scalatest-scalacheck bridge in the
  * offline dependency set).
  */
class PropertiesSpec extends SparkSpec {

  private val genEv: Gen[Ev] = for {
    id <- Gen.choose(1L, 1000000L)
    sec <- Gen.choose(0L, 100000L)
    user <- Gen.choose(1L, 50L)
    typ <- Gen.oneOf("click", "view", "purchase", "error", "signup")
    v <- Gen.choose(0, 10000).map(_ / 100.0)
  } yield Ev(id, new Timestamp(sec * 1000L), user, typ, v)

  private def sample[A](g: Gen[A]): A =
    Iterator.continually(g.sample).flatten.next()

  test("property: CSV parse round-trips every generated record") {
    val s = spark
    import s.implicits._
    (1 to 20).foreach { _ =>
      val evs = sample(Gen.listOfN(30, genEv))
      val lines = evs.map(e =>
        s""""${e.event_id}","${e.ts.getTime * 1000L}","${e.user_id}","${e.event_type}","${e.value}"""")
        .toDF("value")
      val parsed = StreamingPipelines.parseCsvLines(lines)
        .selectExpr("event_id", "cast(ts AS long) * 1000000", "user_id", "event_type", "value")
        .as[(Long, Long, Long, String, Double)].collect()
        .map(t => Ev(t._1, new Timestamp(t._2 / 1000L), t._3, t._4, t._5)).toSet
      assert(parsed === evs.toSet)
    }
  }

  test("property: tumbling window counts conserve the row total") {
    val s = spark
    import s.implicits._
    (1 to 10).foreach { _ =>
      val evs = sample(Gen.listOfN(200, genEv))
      val df = s.createDataset(evs).toDF()
      val windowed = df.groupBy(window(col("ts"), "5 minutes")).count()
      assert(windowed.agg(sum("count")).as[Long].head() === evs.size.toLong)
    }
  }

  test("property: sessionizer durations are non-negative and first-per-user is (None,0)") {
    val s = spark
    import s.implicits._
    (1 to 10).foreach { _ =>
      val evs = sample(Gen.listOfN(60, genEv))
        .groupBy(e => (e.user_id, e.ts)).map(_._2.head).toSeq // dedup (user, ts) collisions
        .zipWithIndex.map { case (e, i) => e.copy(event_id = i.toLong) } // unique ids: the
      // first-per-user membership check below keys on event_id alone, so a generated id
      // colliding across users would wrongly assert another user's event as "first".
      val out = graft.streaming.StatefulOps
        .sessionizeActions(s.createDataset(evs), clearOn = "error")
        .collect() // batch execution of the streaming operator
      assert(out.forall(_.duration_us >= 0L))
      val firstPerUser = evs.groupBy(_.user_id).map { case (_, es) =>
        es.minBy(e => (e.ts.getTime, e.event_id))
      }.map(_.event_id).toSet
      out.filter(o => firstPerUser(o.event_id)).foreach { o =>
        assert(o.prev_action === "None" && o.duration_us === 0L)
      }
    }
  }

  test("property: HLL sketch estimate tracks exact distinct counts") {
    val s = spark
    import s.implicits._
    // m=64 registers -> ~13% standard error; assert a loose 3-sigma band.
    // Only the raw-estimator regime (n >= 2.5m = 160) is asserted: below
    // it, standard HLL switches to linear counting, which the sketch
    // deliberately omits (ln() is not bit-reproducible across engines;
    // the raw estimate is biased high there, documented behavior).
    Seq(200, 2000, 20000).foreach { n =>
      val df = (1 to n * 3).map(i => ("g", (i % n).toLong)).toDF("g", "v")
      val est = graft.operators.RelationalOps.hllEstimate(df, "g", "v")
        .collect().head.getDouble(1)
      assert(math.abs(est - n) / n < 0.4,
        s"HLL estimate $est too far from exact $n")
    }
  }

  test("property: HLL sketch is deterministic across runs and partitionings") {
    val s = spark
    import s.implicits._
    val df = (1 to 3000).map(i => ("g", (i % 700).toLong)).toDF("g", "v")
    val a = graft.operators.RelationalOps.hllEstimate(df.repartition(1), "g", "v")
      .collect().head.getDouble(1)
    val b = graft.operators.RelationalOps.hllEstimate(df.repartition(7), "g", "v")
      .collect().head.getDouble(1)
    assert(a === b) // register merge is order/partitioning independent
  }

  /** Write a random events table to a temp fixture dir so the registered
    * queries (which read `dir/events.parquet`) can run against it. */
  private def eventsFixture(evs: Seq[Ev]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_prop_")
    s.createDataset(evs).toDF()
      .withColumn("props", lit("k=1"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def docsFixture(texts: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_prop_docs_")
    texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("property: hierarchical pack prefix sum equals the naive global cumsum") {
    val s = spark
    import s.implicits._
    // token counts spread over enough docs that several of the 256 hash
    // buckets are non-empty, so the offset merge actually engages
    (1 to 3).foreach { round =>
      val docs = (1L to 400L).map { id =>
        val n = 5 + ((id * 37 + round) % 90).toInt
        (id, (1 to n).map(i => s"w$i").mkString(" "))
      }
      val dir = docsFixture(docs)
      val fast = SparkEntry.queries("d_pack_sequences")(s, dir)
        .select("doc_id", "bin", "bin_offset")
        .as[(Long, Long, Long)].collect().map { case (k, b, o) => k -> ((b, o)) }.toMap
      val counts = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      // naive single-pass: same md5 order, plain running sum
      val md = java.security.MessageDigest.getInstance("MD5")
      def h48(x: String): Long = {
        md.reset()
        val d = md.digest(x.getBytes("UTF-8"))
        (0 until 6).foldLeft(0L)((v, i) => (v << 8) | (d(i) & 0xffL))
      }
      val ordered = docs.map(_._1).sortBy(id => (h48(id.toString), id))
      var cum = 0L
      val expect = ordered.map { id =>
        val r = id -> ((cum / 2048L, cum % 2048L))
        cum += counts(id)
        r
      }.toMap
      assert(fast === expect)
      // conservation: every doc packed exactly once
      assert(fast.size === docs.size)
    }
  }

  test("property: hierarchical sweep-line peak equals the naive per-day running-sum peak") {
    val s = spark
    import s.implicits._
    // Cluster timestamps around hour boundaries so local sums + offsets
    // actually cross buckets; durations long enough to straddle hours.
    val gen = for {
      id <- Gen.choose(1L, 1000000L)
      sec <- Gen.choose(3000L, 11000L)
      user <- Gen.choose(1L, 20L)
      v <- Gen.choose(1, 500000).map(_ / 100.0) // up to ~83 min
    } yield Ev(id, new Timestamp(sec * 1000L), user, "click", v)
    (1 to 5).foreach { _ =>
      val evs = sample(Gen.listOfN(300, gen))
      val dir = eventsFixture(evs)
      val fast = SparkEntry.queries("a11_peak_concurrency")(s, dir)
        .as[(Long, Long)].collect().toMap
      val naive = s.createDataset(evs).toDF()
        .select(expr("unix_micros(ts) div 86400000000").as("d"),
          expr("unix_micros(ts)").as("t"), lit(1).as("delta"))
        .unionByName(s.createDataset(evs).toDF()
          .select(expr("unix_micros(ts) div 86400000000").as("d"),
            expr("unix_micros(ts) + cast(round(value * 1e6) AS bigint)").as("t"),
            lit(-1).as("delta")))
        .withColumn("rs", sum(col("delta")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("d"))
            .orderBy(col("t"), col("delta"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("d")).agg(max(col("rs")).as("peak"))
        .as[(Long, Long)].collect().toMap
      assert(fast === naive)
    }
  }

  test("property: CMS estimates dominate exact counts (never undercount)") {
    val s = spark
    import s.implicits._
    val evs = sample(Gen.listOfN(2000, genEv))
    val dir = eventsFixture(evs)
    val est = SparkEntry.queries("q_cms_topk")(s, dir)
      .as[(Long, Long)].collect().toMap
    val exact = evs.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    est.foreach { case (user, e) =>
      assert(e >= exact(user), s"CMS undercounted user $user: $e < ${exact(user)}")
    }
    assert(est.nonEmpty)
  }

  test("property: CMS rows are independent — most estimates are exact at low load") {
    val s = spark
    import s.implicits._
    // 40 distinct keys against width 512, depth 4. With INDEPENDENT row
    // hashes an overcount needs a collision in ALL 4 rows: P ~ (40/512)^4
    // ~ 4e-5 per pair — effectively zero, so the emitted top-20 is all
    // exact (1 key of slack for luck). The old perfectly-correlated rows
    // (one shared base hash, non-wrapping affine transforms) collided in
    // all rows whenever row 0 collided (P ~ 8% per pair -> ~3 inflated
    // keys, pulled INTO the top-20 by their inflation), which this bound
    // catches. Note the top-k output is selection-biased toward
    // overcounted keys, so the key count must be small enough that
    // independence predicts zero, not merely few.
    val gen = for {
      id <- Gen.choose(1L, 1000000L)
      sec <- Gen.choose(0L, 100000L)
      user <- Gen.choose(1L, 40L)
    } yield Ev(id, new Timestamp(sec * 1000L), user, "click", 1.0)
    val evs = sample(Gen.listOfN(3000, gen))
    val dir = eventsFixture(evs)
    val est = SparkEntry.queries("q_cms_topk")(s, dir)
      .as[(Long, Long)].collect().toMap
    val exact = evs.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val exactHits = est.count { case (u, e) => e == exact(u) }
    assert(exactHits >= est.size - 1,
      s"only $exactHits/${est.size} CMS estimates exact — rows look correlated")
  }

  test("property: x8 skip-past segmentation equals a sequential reference fold") {
    val s = spark
    import s.implicits._
    val gapUs = 300000000L // 5 min — short enough to cut many segments
    // coarse second domain forces same-timestamp ties; ids reassigned
    // unique so the (us, event_id) order is total
    (1 to 8).foreach { _ =>
      val evs = sample(Gen.listOfN(250, genEv))
        .zipWithIndex.map { case (e, i) => e.copy(event_id = i.toLong + 1L) }
      val dir = eventsFixture(evs)
      val got = graft.operators.EventOps
        .cepSkipPastBatch(graft.Tables.t(s, dir, "events"), gapUs)
        .selectExpr("user_id", "event_id", "n_times",
          "unix_micros(first_ts)", "unix_micros(last_ts)")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // reference: per user, sort clicks by (us, id), greedily absorb
      // while us - anchor_us <= gap, close on the first event beyond
      val want = evs.filter(_.event_type == "click").groupBy(_.user_id)
        .flatMap { case (u, es) =>
          val sorted = es.sortBy(e => (e.ts.getTime * 1000L, e.event_id))
          val segs = Seq.newBuilder[(Long, Long, Long, Long, Long)]
          var anchor: Ev = null; var n = 0L; var last = 0L
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000L
            if (anchor == null) { anchor = e; n = 1; last = us }
            else if (us - anchor.ts.getTime * 1000L <= gapUs) { n += 1; last = us }
            else {
              segs += ((u, anchor.event_id, n, anchor.ts.getTime * 1000L, last))
              anchor = e; n = 1; last = us
            }
          }
          if (anchor != null)
            segs += ((u, anchor.event_id, n, anchor.ts.getTime * 1000L, last))
          segs.result()
        }.toSet
      assert(got === want,
        s"only-spark=${(got -- want).take(3)} only-ref=${(want -- got).take(3)}")
      // segmentation must PARTITION the click substream: per-user match
      // sizes sum to the user's click count
      val clicksPerUser = evs.filter(_.event_type == "click")
        .groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      val sizesPerUser = got.groupBy(_._1).view
        .mapValues(_.toSeq.map(_._3).sum).toMap
      assert(sizesPerUser === clicksPerUser.filter(_._2 > 0))
    }
  }

  test("property: pane-shared sliding sketches equal their naive duals on random data") {
    val s = spark
    // value domain stresses the DD bucket edges: sub-1 (bucket 0), the
    // 1/10/100 digit-count boundaries, and large magnitudes
    val gen = for {
      id <- Gen.choose(1L, 1000000L)
      sec <- Gen.choose(0L, 100000L)
      user <- Gen.choose(1L, 50L)
      typ <- Gen.oneOf("click", "view", "purchase")
      v <- Gen.oneOf(
        Gen.choose(0, 99).map(_ / 100.0),        // [0, 1)
        Gen.oneOf(0.0, 1.0, 9.99, 10.0, 99.5, 100.0, 999.0, 1000.0),
        Gen.choose(1, 2000000000).map(_.toDouble))
    } yield Ev(id, new Timestamp(sec * 1000L), user, typ, v)
    (1 to 5).foreach { _ =>
      val evs = sample(Gen.listOfN(400, gen))
      val dir = eventsFixture(evs)
      val ev = graft.Tables.t(s, dir, "events")
      val ddP = graft.operators.PaneOps.slidingDdQuantilesPane(ev)
        .orderBy("event_type", "win_start").collect().toSeq
      val ddN = graft.operators.PaneOps.slidingDdQuantilesNaive(ev)
        .orderBy("event_type", "win_start").collect().toSeq
      assert(ddP.nonEmpty && ddP === ddN)
      val hP = graft.operators.PaneOps.slidingHllDistinctPane(ev)
        .orderBy("event_type", "win_start").collect().toSeq
      val hN = graft.operators.PaneOps.slidingHllDistinctNaive(ev)
        .orderBy("event_type", "win_start").collect().toSeq
      assert(hP.nonEmpty && hP === hN)
    }
  }
}
