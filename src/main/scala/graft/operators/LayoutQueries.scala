package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GQuery

/** Oracle-checked registry coverage for the [[Layout]] primitives.
  *
  * Every other layout receipt lives in sbt specs and in BASELINE.md's
  * round-12/13 layout sections ("layoutab", "Manifest economics at a
  * production file count", "Equi-depth Z-order");
  * this puts the full MAINTENANCE LIFECYCLE under the driver's DuckDB
  * oracle: Z-order write -> manifest build -> incremental append ->
  * [[Layout.updateManifest]] reconcile ->
  * [[Layout.compactSmallFilesWithManifest]] (post-compaction stats
  * DERIVED from the pre-compaction boxes, zero data scanned) ->
  * [[Layout.scanPruned]] -> [[Layout.reclusterWithManifest]] (equi-depth
  * rewrite + atomic dir swap) -> pruned scan again, with the two scan
  * paths cross-checked cell-for-cell. The lifecycle splits
  * `lineitem` into a base slice (Z-ordered) and an append slice (landed
  * afterwards, the incremental-writer scenario), so the maintained
  * directory holds EXACTLY the source table and the pruned, filtered,
  * aggregated result must equal a plain filtered aggregate of
  * `lineitem` — which is what the oracle runs. Any bug anywhere in the
  * chain (a lost bin during compaction, a manifest row not reconciled,
  * a box made stale by the rewrite, an over-pruned file) shows up as a
  * hash mismatch against an engine that never saw the layout machinery.
  *
  * Scale shape: identical to the primitives it composes — one range
  * exchange for the Z-write, bounded-driver manifest ops (rows = file
  * count), no-shuffle compaction, and a final aggregate that reads only
  * manifest-intersecting files. Sums follow the registry's exact-float
  * convention: scale to BIGINT first (order-independent), never sum raw
  * doubles.
  */
object LayoutQueries {

  /** Deterministic scratch root per fixture dir — recreated from scratch
    * on every invocation (the lifecycle IS the query; stale state from a
    * previous run must not leak in). Lives under java.io.tmpdir, never
    * inside the read-only fixture tree. */
  private def workDir(dir: String): String =
    sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_layout_lc_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Materialize a manifest DataFrame driver-side. A manifest built by
    * [[Layout.buildManifest]]/[[Layout.updateManifest]] is LAZY over the
    * directory it describes — executing it after the directory mutated
    * would silently describe the new state and defeat the staleness the
    * lifecycle exists to exercise. Bounded: rows = file count (~20). */
  private def freeze(s: SparkSession, m: DataFrame): DataFrame =
    s.createDataFrame(new java.util.ArrayList(
      java.util.Arrays.asList(m.collect(): _*)), m.schema)

  /** Per-stage wall times of the LAST lifecycle invocation, in seconds
    * (round-19 verdict task 6): the 10 s maintenance lane was opaque —
    * a regression inside it (say the recluster write doubling) was
    * invisible behind the lane total. Each invocation overwrites the
    * previous (Bench reads it after its final pass, so BENCH_DETAIL
    * carries the bench fixture's stage map). Timing boundaries sit on
    * the EAGER actions (writes, freezes/collects); the lazy plan
    * construction between them is microseconds. */
  private val lastStages =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, Double)]](Nil)
  def lastStageTimings: Seq[(String, Double)] = lastStages.get()

  private def staged[T](buf: scala.collection.mutable.ArrayBuffer[(String, Double)],
      name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    buf += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  private val keys = Seq("l_partkey", "l_suppkey")
  // fixed literal probe box, in-range at every fixture SF (partkey
  // 0..2000*SF*100, suppkey 0..100*SF*100) and selective enough that
  // pruning actually drops files on the Z layout
  private val (pLo, pHi, sLo, sHi) = (0L, 500L, 0L, 40L)

  private val qLifecycle = GQuery(
    "q_layout_lifecycle",
    (s, dir) => {
      val li = graft.Tables.t(s, dir, "lineitem")
      def result(src: org.apache.spark.sql.DataFrame) = src
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(expr("CAST(round(l_extendedprice * 100e0) AS BIGINT)"))
            .as("price_cents"))
      val baseSlice = li.filter(col("l_orderkey") % 4 =!= 0)
      if (li.head(1).isEmpty)
        // empty fixture: nothing to lay out — degrade to the empty
        // aggregate with the query's schema (EmptyInputSpec contract)
        result(li.filter(lit(false)))
      else {
        // pathological tiny input can leave the base slice empty; the
        // z-writer needs >=1 row, so the whole table becomes the base
        // and the append slice goes (possibly) empty — the sentinel
        // manifest rows make even that 0-row append file safe
        val swapped = baseSlice.head(1).isEmpty
        val base = if (swapped) li else baseSlice
        val appendSlice =
          if (swapped) li.filter(lit(false))
          else li.filter(col("l_orderkey") % 4 === 0)
        val root = new org.apache.hadoop.fs.Path(workDir(dir))
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(root, true)
        val data = workDir(dir) + "/t"
        val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        // base (3/4 of the table) is Z-order-clustered at "write time"...
        staged(stages, "zorder_write")(
          Layout.writeZOrdered(base, "l_partkey", "l_suppkey", data, numFiles = 16))
        val m0 = staged(stages, "manifest_build")(
          freeze(s, Layout.buildManifest(s, data, keys)))
        // ...the rest lands later as an unclustered incremental append
        staged(stages, "append")(
          appendSlice.repartition(2).write.mode("append").parquet(data))
        val m1 = staged(stages, "reconcile")(
          freeze(s, Layout.updateManifest(s, data, m0, keys)))
        // small-file maintenance with DERIVED stats: the post-compaction
        // manifest is arithmetic over m1's boxes (zero data scanned), and
        // the oracle hash-checks the derivation end to end
        val (_, m2) = staged(stages, "compact")(
          Layout.compactSmallFilesWithManifest(
            s, data, m1, keys, targetBytes = 8L << 20))
        val bounds = Seq(("l_partkey", pLo, pHi), ("l_suppkey", sLo, sHi))
        // freeze: this aggregate's lineage points at the pre-recluster
        // files, which the swap below DELETES — materialize its 3 rows
        // now or the cross-check would read ghosts
        val viaDerived = staged(stages, "derived_scan")(
          freeze(s, result(Layout.scanPruned(s, data, m2, bounds))))
        // RE-CLUSTER (round 13): the equi-depth rewrite + atomic dir swap
        // that repairs the box decay appends cause — the last maintenance
        // step a live table runs. Its manifest is built pre-swap and
        // path-remapped; the final pruned aggregate reads through it, so
        // the oracle hash-checks the rewrite + swap + remap at value
        // level. The derived-stats path must agree cell-for-cell with
        // the post-recluster path before either is trusted.
        val (_, m3) = staged(stages, "recluster")(
          Layout.reclusterWithManifest(s, data, keys,
            numFiles = 8, buckets = 256))
        // freeze ONCE and cross-check the 3-row results driver-side: the
        // exceptAll formulation evaluated the post-recluster scan three
        // times (both except directions + the returned frame) — two full
        // scan+agg passes of pure overhead on a query that is already
        // the registry's most expensive by design
        val viaReclustered = staged(stages, "reclustered_scan")(
          freeze(s, result(Layout.scanPruned(s, data, m3, bounds))))
        lastStages.set(stages.toSeq)
        val (lhs, rhs) = (viaDerived.collect().toSet, viaReclustered.collect().toSet)
        require(lhs == rhs,
          "q_layout_lifecycle: derived-manifest scan and post-recluster " +
            s"scan disagree — a maintenance stage corrupted the table " +
            s"(derived-only=${(lhs -- rhs).take(2)}, reclustered-only=${(rhs -- lhs).take(2)})")
        viaReclustered
      }
    },
    Some(s"""SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
WHERE l_partkey BETWEEN $pLo AND $pHi AND l_suppkey BETWEEN $sLo AND $sHi
GROUP BY 1"""),
    "Full layout maintenance lifecycle (z-order -> manifest -> append -> reconcile -> compact with zero-scan DERIVED stats -> pruned scan -> equi-depth RECLUSTER with atomic dir swap -> pruned scan again, both paths cross-checked) proven equal to a plain filtered aggregate.")

  val all: Seq[GQuery] = Seq(qLifecycle)
}
