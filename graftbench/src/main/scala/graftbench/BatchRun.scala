package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The batch_mixed workload: a fixed set of oracle-backed registry
  * queries run in passes over the seeded fixture copy. Each pass runs every
  * query once, in an order drawn from the seed; a query is built through
  * its `SparkEntry.queries` impl and materialised with the `noop` sink, the
  * way the engine's own `graft.Bench` times it. One untimed pass warms the
  * JIT and the engine's caches; timed passes then run until `seconds` have
  * elapsed and at least two passes have run, always finishing the pass.
  * The DataFrames of the last timed pass are written out afterwards for the
  * DuckDB oracle check. */
object BatchRun {

  /** Operator analogs of the Flink course's jobs plus multi-table TPC-H
    * joins: execution dominates, and each join reads 6-8 tables. */
  val dataflow: Seq[String] = Seq("x4_cep_negation", "w2d_sliding_topk_pane",
    "q5_region_revenue", "q8_market_share", "q21_waiting_supplier")

  /** LLM-corpus queries over one table each: construction (eager pins,
    * model training before the action) dominates. */
  val corpus: Seq[String] = Seq("t_lm_score", "e_assign_confusion", "d_dup_span_coverage")

  /** Fixture tables the queries read, each probed once in traced runs. */
  val tables: Seq[String] = Seq("events", "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  final case class Sample(query: String, kind: String, pass: Int, startMs: Double,
      constructMs: Double, actionMs: Double, gcMs: Long) {
    def record: Map[String, Any] = Map("query" -> query, "kind" -> kind, "pass" -> pass,
      "start_ms" -> startMs, "construct_ms" -> constructMs, "action_ms" -> actionMs, "gc_ms" -> gcMs)
  }

  def run(spark: SparkSession, trace: Trace, a: Args): Map[String, Any] = {
    val queries = dataflow ++ corpus
    val impls = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    queries.foreach(q => require(impls.contains(q) && oracle.contains(q), s"$q: not a registry query with an oracle"))

    if (trace.on) tables.foreach { t =>
      trace.span("Tables.t", group = true, Map("table" -> t)) { Tables.t(spark, a.fixture, t).schema }
    }

    val samples = ArrayBuffer.empty[Sample]
    val heap = ArrayBuffer.empty[Double]
    def runQuery(name: String, pass: Int): DataFrame = {
      val kind = if (corpus.contains(name)) "corpus" else "dataflow"
      trace.span("query", attrs = Map("query" -> name, "kind" -> kind, "pass" -> pass)) {
        val gc0 = Clock.gcMs
        val t0 = Clock.nowMs
        val df = trace.span("operators.construct", group = true) { impls(name)(spark, a.fixture) }
        val t1 = Clock.nowMs
        trace.span("operators.action", group = true) { df.write.format("noop").mode("overwrite").save() }
        val t2 = Clock.nowMs
        samples += Sample(name, kind, pass, t0, t1 - t0, t2 - t1, Clock.gcMs - gc0)
        df
      }
    }
    // Hashing (seed, pass): java.util.Random's first draws barely differ
    // between adjacent seeds, so seed + pass would end every pass alike.
    def order(pass: Int): Seq[String] =
      new scala.util.Random(scala.util.hashing.MurmurHash3.productHash((a.seed, pass))).shuffle(queries)

    trace.span("warmup") { order(0).foreach(runQuery(_, 0)) }

    val firstTimedMs = Clock.nowMs
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var timedMs = 0.0
    var last = Seq.empty[(String, DataFrame)]
    while (passes.size < 2 || timedMs < a.seconds * 1000.0) {
      val pass = passes.size + 1
      last = trace.span("pass", attrs = Map("pass" -> pass)) { order(pass).map(q => q -> runQuery(q, pass)) }
      val mine = samples.filter(_.pass == pass)
      val wallMs = mine.map(s => s.constructMs + s.actionMs).sum
      passes += Map("pass" -> pass, "wall_ms" -> wallMs, "gc_ms" -> mine.map(_.gcMs).sum)
      timedMs += wallMs
      // Outside the clock: a trivial query first, so the heap sample does
      // not depend on which query happened to run last.
      spark.range(1).write.format("noop").mode("overwrite").save()
      heap += Clock.liveHeapMb()
    }

    // Correctness, outside the timed region: the last timed pass's frames.
    val results = s"${a.work}/results"
    last.foreach { case (q, df) =>
      trace.span("oracle.write", group = true, Map("query" -> q)) { df.write.mode("overwrite").parquet(s"$results/$q") }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(results, "oracle_sql.json"),
      Main.json.writeValueAsString(queries.map(q => q -> oracle(q)).toMap))

    Map("first_timed_ms" -> firstTimedMs, "timed_wall_ms" -> timedMs, "samples" -> samples.map(_.record),
      "passes" -> passes.toSeq, "live_heap_mb" -> heap.toSeq)
  }
}
