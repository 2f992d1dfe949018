package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout writers — the actionable half of the clustering keys the
  * query registry reports on. `q_zorder_key` (RelationalOps) measures
  * clustering quality; this actually LAYS OUT a table that way, which is
  * where the 100 TB win lives: parquet keeps min/max statistics per row
  * group, and a scan filtered on either clustered dimension skips every
  * row group whose box misses the predicate. A Z-ordered write makes
  * those boxes tight in BOTH dimensions at once — the standard lakehouse
  * OPTIMIZE ZORDER BY primitive, expressed as plain Spark: one
  * range exchange on the Morton code + a partition-local sort, nothing
  * engine-specific. */
object Layout {

  /** Write `df` Z-order-clustered on two integer key columns: each key
    * is RESCALED from its actual [min, max] into the 16-bit interleave
    * domain (equal-width buckets — integer division by the bucket width,
    * overflow-free at any key magnitude), then the two 16-bit values are
    * interleaved into the same Morton code as `q_zorder_key`. An earlier
    * revision masked with `& 65535`, which silently WRAPPED keys above
    * 65535 (organic-fixture part/supplier keys reach millions) so files
    * spanned the full key range again; the rescale is monotone in each
    * raw key, so per-file boxes stay contiguous in the raw domain no
    * matter its magnitude. The min/max probe is ONE bounded 1-row
    * aggregate — input-size-independent driver work. `numFiles`
    * range-partitions on the code, so each output file owns a contiguous
    * Z-range whose (x, y) bounding box is small in both dimensions; the
    * within-partition sort keeps every ROW GROUP inside the file tight
    * too. Scale shape: ONE range exchange (range boundaries from a
    * sampled sketch — skew-tolerant by construction) + local sort; no
    * other shuffle, no driver materialization at any input size. */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
      path: String, numFiles: Int = 32): Unit =
    writeZOrderedN(df, Seq(xCol, yCol), path, numFiles)

  /** Persist `df` as a BUCKETED table: Spark's durable hash-clustering
    * on the join key (`bucketBy` + in-bucket `sortBy`). Every future
    * equi-join or aggregation on `key` between tables bucketed the same
    * way (same key, same bucket count) runs WITHOUT an exchange on
    * either side — the co-located-join layout for a fact table that is
    * joined on the same key every day at 100 TB: pay the clustering
    * shuffle once at write time, never again at read time. The
    * BucketSpec receipt asserts the join plan really drops both
    * exchanges (and that the unbucketed twin keeps them). `path` keeps
    * the data outside the metastore warehouse (external table). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** N-column generalization (2..4 keys — Delta's OPTIMIZE ZORDER BY
    * shape): each key stretches into a `min(16, 63/n)`-bit domain, and
    *
    * Known limit (measured, round 12): the rescale is EQUAL-WIDTH, so a
    * sparse CLUSTERED key domain — e.g. snowflake-style ids, or the
    * organic fixture's 100 narrow clusters spread over a ~10^9 range —
    * collapses to few distinct scaled values (386 z-codes on that
    * fixture), which caps the non-empty range partitions (file count)
    * and coarsens per-file boxes. Dense or uniformly-spread domains are
    * unaffected. For such domains use [[writeZOrderedEquiDepth]], which
    * maps each key through its own quantile boundaries (rank space)
    * before the interleave and is immune to intra-domain gaps.
    * bit i of key j lands at interleave position `i*n + j` — for n = 2
    * this is bit-for-bit the classic (x even, y odd) Morton code, so
    * the two-column API above is a pure alias. All keys share bit
    * significance equally, so the range cuts discriminate on every
    * clustered column (the file count bounds how many leading interleave
    * bits the cuts can resolve: numFiles = 2^b spends ~b/n bits per
    * key — more files, more per-key skipping). Same scale shape: one
    * bounded min/max probe, ONE range exchange, local sort. */
  def writeZOrderedN(df: DataFrame, keyCols: Seq[String], path: String,
      numFiles: Int = 32): Unit = {
    val n = keyCols.size
    require(n >= 2 && n <= 4, s"writeZOrderedN: 2..4 key columns, got $n")
    val bitsPer = math.min(16, 63 / n)
    val domain = (1L << bitsPer) - 1L
    val b = df.agg(
      keyCols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))).head,
      keyCols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))).tail: _*).head()
    keyCols.indices.foreach(j => require(!b.isNullAt(2 * j),
      s"writeZOrderedN: ${keyCols(j)} must have at least one non-null value"))
    // Always STRETCH to the full bit domain, never just clamp into it:
    // a narrow key range left at exact values (e.g. suppkey 1..10)
    // occupies only the LOW bits of the interleave, so every range cut
    // lands on the other keys' high bits and that key gets zero
    // file-level discrimination — the scan-receipt test caught exactly
    // this (suppkey probe: 1.0x skipped). Bit-balanced keys are what
    // make Morton cuts pay in EVERY predicate.
    def scaled(c: String, lo: Long, hi: Long): String =
      if (hi <= lo) "0L"
      else if (hi - lo <= domain)
        // narrow range: multiply first (no overflow — both factors
        // < 2^bitsPer after the shift), stretching [lo, hi] over the domain
        s"((($c - ${lo}L) * ${domain}L) div ${hi - lo}L)"
      else {
        // wide range: bucket width ⌈(hi-lo+1)/2^bitsPer⌉ via
        // (hi-lo)/domain + 1 — divide FIRST so no product can overflow
        // at any key magnitude
        val width = (hi - lo) / domain + 1L
        s"(($c - ${lo}L) div ${width}L)"
      }
    val keyed = keyCols.zipWithIndex.foldLeft(df) { case (d, (c, j)) =>
      d.withColumn(s"__zk$j", expr(scaled(c, b.getLong(2 * j), b.getLong(2 * j + 1))))
    }
    interleaveAndWrite(keyed, n, bitsPer, numFiles, path)
  }

  /** Shared tail of the Z-order writers: interleave the scaled `__zkJ`
    * columns bit-by-bit into the Morton code, ONE range exchange on it,
    * partition-local sort, write. */
  private def interleaveAndWrite(keyed: DataFrame, n: Int, bitsPer: Int,
      numFiles: Int, path: String): Unit = {
    val zExpr = (0 until bitsPer).flatMap { i =>
      (0 until n).map(j =>
        s"shiftleft(shiftright(__zk$j, $i) & 1, ${i * n + j})")
    }.mkString(" + ")
    keyed.withColumn("__z", expr(zExpr))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop((0 until n).map(j => s"__zk$j") :+ "__z": _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Equi-DEPTH Z-order — the fix for the equal-width limit documented
    * on [[writeZOrderedN]]. Instead of stretching each key's [min, max]
    * uniformly over the bit domain, each key is mapped through its own
    * QUANTILE boundaries (`buckets` equal-mass buckets from one bounded
    * `approxQuantile` pass), so the interleave sees each key in RANK
    * space: a sparse clustered domain (snowflake-style ids; the organic
    * fixture's 100 narrow clusters over a ~10^9 range, where equal-width
    * collapsed to 386 z-codes) still spreads over the full `buckets`
    * values per key, range cuts can always materialize `numFiles` files,
    * and per-file boxes subdivide INSIDE dense clusters instead of
    * treating a cluster as one indivisible code. The bucket map
    * (count of boundaries <= v) is monotone in the raw key, so per-file
    * min/max boxes remain contiguous raw-domain intervals and parquet
    * skipping works unchanged. Where mass genuinely concentrates on one
    * value, adjacent quantiles coincide and are deduplicated — equi-depth
    * degrades to the true mass distribution, never below equal-width.
    *
    * Scale shape: the quantile probe is ONE pass building n bounded
    * GK sketches (driver result n x buckets doubles — KBs); then the
    * same single range exchange + local sort as [[writeZOrderedN]].
    * The per-row bucket lookup is the native `graft_bucket_of` binary
    * upper-bound over the sorted boundary array — ~log2(buckets)
    * compares (12 at the default 4096) of codegen'd write-time cost,
    * no UDF, no extra shuffle; the boundary array is a plan-time
    * constant referenced once from generated code. (Its predecessor, a
    * sqrt-decomposed count via aggregate/slice HOFs, ran ~2*sqrt(buckets)
    * INTERPRETED boxed lambda steps per row per key column — measured as
    * the dominant cost of the recluster stage at sf0.1.)
    * Bucket resolution matters: each cluster of
    * the key domain owns ~buckets/clusters rank values, and a probe
    * can only be subdivided down to one rank — 4096 keeps ~40 ranks
    * per cluster even on a 100-cluster domain. Nulls land in bucket 0
    * (lowest range), a defined place rather than a dropped row. */
  def writeZOrderedEquiDepth(df: DataFrame, keyCols: Seq[String], path: String,
      numFiles: Int = 32, buckets: Int = 4096): Unit = {
    val n = keyCols.size
    require(n >= 2 && n <= 4, s"writeZOrderedEquiDepth: 2..4 key columns, got $n")
    val maxBits = math.min(16, 63 / n)
    require(buckets >= 4 && (buckets & (buckets - 1)) == 0 && buckets <= (1 << maxBits),
      s"buckets must be a power of two in [4, ${1 << maxBits}], got $buckets")
    val bitsPer = java.lang.Integer.numberOfTrailingZeros(buckets)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // one pass over the data for ALL key columns' sketches
    val boundaries = df.stat.approxQuantile(keyCols.toArray, probs, 0.5 / buckets)
    // a key with NO non-null values yields an empty boundary array and the
    // coarse-array build below would die with an opaque
    // IndexOutOfBoundsException at arr(k * fineN - 1) — name the column
    boundaries.zipWithIndex.foreach { case (arr, j) =>
      require(arr.length == buckets - 1,
        s"writeZOrderedEquiDepth: key column '${keyCols(j)}' produced " +
          s"${arr.length} quantile boundaries (expected ${buckets - 1}) — " +
          "the column has no non-null values to cluster on")
    }
    // #{b in arr : b <= v} — monotone in v, so the bucket map preserves
    // raw-domain contiguity of per-file boxes; duplicate boundaries
    // (mass concentrated on one value) just skip bucket ids, never
    // reorder. Round 13: the count is the native graft_bucket_of binary
    // upper-bound (codegen) — the previous two-level sqrt-decomposed HOF
    // formulation evaluated ~2*sqrt(buckets) interpreted boxed lambda
    // steps per row per key column in the write hot path; nulls keep
    // their bucket-0 home via the coalesce.
    val keyed = keyCols.zipWithIndex.foldLeft(df) { case (d, (c, j)) =>
      val arr = boundaries(j).toSeq // length buckets-1, sorted
      d.withColumn(s"__zk$j",
        coalesce(graft.functions.GraftFunctions.bucketOf(
          col(c).cast("double"), arr), lit(0L)))
    }
    interleaveAndWrite(keyed, n, bitsPer, numFiles, path)
  }

  /** What a [[compactSmallFiles]] run did — the before/after receipt the
    * LayoutSpec gate asserts on. */
  final case class CompactReceipt(filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long, binsRewritten: Int, binsMoved: Int)

  /** The third lakehouse layout primitive beside Z-order and bucketing:
    * bin-pack a directory of small parquet files up to `targetBytes`
    * WITHOUT re-sorting. Small files are the steady-state failure of any
    * streaming/incremental writer at 100 TB — a scan pays one task (and
    * one open/footer read) per file, so 100k 1 MB files cost 100k tasks
    * where 800 128 MB files cost 800 — but a full rewrite-with-sort
    * (writeZOrderedN) pays a cluster-wide range exchange to fix what is
    * only a packing problem. This compacts instead: files are taken in
    * NAME order — which for range-partitioned output (the Z-order and
    * repartitionByRange writers) IS clustering order — and consecutive
    * runs are greedily packed into bins of at most `targetBytes`; each
    * multi-file bin is rewritten as ONE file by concatenating its
    * members in order (union of per-file scans + coalesce(1): no
    * shuffle, no sort, row order inside every input file preserved), so
    * a merged file's min/max box is exactly the union of its consecutive
    * members' boxes and the layout's skipping power survives. A file
    * already at or above `targetBytes` forms its own bin and is MOVED
    * (one metadata rename, zero IO) — re-compacting an already-compact
    * table is free. Scale shape: driver work is O(file count) listing —
    * the quantity being fixed — and each bin rewrite is an independent
    * single-task job with no exchange anywhere; bins run CONCURRENTLY on
    * a bounded pool of `MaxConcurrentBins` submitter threads (Spark job
    * scheduling is thread-safe), so at production file counts the
    * wall-clock is bounded by IO, not by serialized job submission.
    *
    * Failure atomicity: phase 1 (bin rewrites) writes ONLY new files
    * under a temp dir — the originals are never touched, so an exception
    * there cleans up the temp dir and loses nothing. Phase 2 (the swap)
    * renames per BIN: a bin's members are deleted only AFTER its
    * compacted replacement landed in the source dir (every rename checked
    * — Hadoop signals failure by returning false, not throwing), so at
    * any crash point each bin's bytes exist in full under AT LEAST one
    * name set — briefly under both, in the window between a bin's
    * replacement rename-in and its member deletes. That window is why
    * the swap is driven by a PERSISTED plan (`_graft_compact_plan`,
    * written atomically before the first rename): the next compaction
    * (or an explicit [[recoverInterruptedCompaction]]) reads the plan
    * and rolls the whole swap FORWARD deterministically — members are
    * deleted exactly when their bin's replacement is present, pending
    * replacements come out of the temp dir, unexecuted moves complete —
    * so a retry can never re-bin a generation-marked replacement
    * together with its surviving originals and merge duplicated rows
    * (the ADVICE r12 failure). The swap is still not a table-format
    * COMMIT: a reader racing phase 2 can see a bin doubled; a production
    * lakehouse runs this under a Delta/Iceberg commit, which is metadata
    * beyond this primitive's scope.
    *
    * Naming: compacted files carry a monotone GENERATION counter
    * (`part-00007-c0003.parquet` = bin 7, generation 3, one past the
    * highest generation present before the run), so name order stays
    * clustering order across re-compactions and a dir whose layout was
    * later polluted by an incremental writer's `part-<uuid>` appends is
    * DETECTABLE (mixed generation markers). The "name order IS clustering
    * order" premise assumes a single writer that re-clusters before
    * appending; compacting a dir where fresh appends interleave with an
    * old generation keeps the data correct but degrades box tightness. */
  def compactSmallFiles(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): CompactReceipt =
    compactCore(spark, path, targetBytes)._1

  /** Bin rewrites a compaction submits at once: 8 ran 6.9x faster than
    * the serialized loop at organic x100 (BASELINE.md "Compaction
    * bin-parallelism receipt"). */
  private val MaxConcurrentBins = 8

  /** [[compactSmallFiles]] plus DERIVED statistics: returns the
    * post-compaction manifest computed from the pre-compaction one with
    * ZERO data scanned. This is the lakehouse metadata move the plain
    * primitive leaves on the table — after a compaction every output
    * file is "new", so [[updateManifest]] degenerates to a full rebuild
    * (at the 8k-file receipt: the entire 3.1 s full-build cost again) —
    * but a merged file's stats are arithmetic, not discovery: bins are
    * CONSECUTIVE name-order runs, so the output's min/max per key is the
    * min-of-mins / max-of-maxes over its members' boxes (nulls — 0-row
    * sentinel members — contribute nothing) and its row count is the
    * members' sum. The input manifest must describe EXACTLY the
    * pre-compaction data-file set (checked loudly — deriving from a
    * stale manifest would bake wrongness into metadata; run
    * [[updateManifest]] first if the guard trips). The derived result
    * equals a fresh [[buildManifest]] of the compacted directory —
    * LayoutSpec pins the equivalence — and the lifecycle registry query
    * routes its post-compaction stats through this derivation, so the
    * DuckDB oracle hash-checks the arithmetic every round. */
  def compactSmallFilesWithManifest(spark: SparkSession, path: String,
      manifest: DataFrame, keyCols: Seq[String],
      targetBytes: Long = 128L << 20): (CompactReceipt, DataFrame) = {
    requireManifestShape(manifest, keyCols, "compactSmallFilesWithManifest")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // complete any interrupted swap BEFORE reconciling: a half-swapped
    // name set would fail the staleness check with a misleading message
    // (and after recovery the manifest may legitimately need an
    // updateManifest pass — the guard below says so)
    recoverSwap(fs, dir)
    def nameOf(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val rows = manifest.collect() // bounded: one row per file
    val byName = rows.map(r => nameOf(r.getString(0)) -> r).toMap
    val listed = listDataFiles(fs, dir).keySet
    require(byName.keySet == listed,
      s"compactSmallFilesWithManifest: manifest does not match the directory " +
        s"(missing: ${(listed -- byName.keySet).take(5)}; stale: " +
        s"${(byName.keySet -- listed).take(5)}). Reconcile with updateManifest " +
        "first — deriving from a stale manifest would bake wrong statistics " +
        "into metadata.")
    val (receipt, plan) = compactCore(spark, path, targetBytes)
    val binned = plan.flatMap(_._2).toSet
    val derived = plan.map { case (out, members) =>
      val ms = members.map(byName)
      val stats = keyCols.indices.flatMap { j =>
        val mins = ms.flatMap(r => if (r.isNullAt(2 + 2 * j)) None else Some(r.getLong(2 + 2 * j)))
        val maxs = ms.flatMap(r => if (r.isNullAt(3 + 2 * j)) None else Some(r.getLong(3 + 2 * j)))
        Seq(if (mins.isEmpty) null else Long.box(mins.min),
          if (maxs.isEmpty) null else Long.box(maxs.max))
      }
      org.apache.spark.sql.Row.fromSeq(
        fs.makeQualified(new org.apache.hadoop.fs.Path(dir, out)).toString +:
          Long.box(ms.map(_.getLong(1)).sum) +: stats)
    }
    // data files outside the part-* compaction scope carry over untouched
    val carried = rows.filter(r => !binned(nameOf(r.getString(0))))
    (receipt, spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        (derived ++ carried): _*)), manifest.schema))
  }

  /** The `(file, rows, k_min, k_max...)` column contract every manifest
    * consumer validates before trusting positional access. */
  private def requireManifestShape(manifest: DataFrame, keyCols: Seq[String],
      who: String): Unit = {
    require(keyCols.nonEmpty, s"$who: at least one key column")
    val expected = Seq("file", "rows") ++
      keyCols.flatMap(c => Seq(s"${c}_min", s"${c}_max"))
    require(manifest.columns.sameElements(expected),
      s"$who: manifest columns ${manifest.columns.toSeq} do not match " +
        s"keyCols $keyCols (expected $expected)")
  }

  /** Write a small control string to `file` atomically (tmp + rename) —
    * a half-written swap plan must never be readable as a whole one. */
  private def writeControlFile(fs: org.apache.hadoop.fs.FileSystem,
      file: org.apache.hadoop.fs.Path, text: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(file.getParent, file.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.delete(file, false)
    require(fs.rename(tmp, file), s"rename $tmp -> $file failed")
  }

  private def readControlFile(fs: org.apache.hadoop.fs.FileSystem,
      file: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Roll a compaction swap interrupted mid-phase-2 FORWARD to completion.
    * Reads the persisted `_graft_compact_plan` and, per bin IN PLAN ORDER
    * (phase 2 is sequential, so the crash frontier is a prefix):
    * replacement already in the dir -> delete the bin's surviving members
    * (closing the doubled-rows window); replacement still in the temp
    * dir -> rename it in, then delete members; a not-yet-executed
    * single-file move -> perform it. Rolling forward in plan order keeps
    * name order == clustering order throughout (every completed bin's
    * out-index is below every untouched member's original index). A
    * multi-file bin whose replacement exists NOWHERE (temp dir deleted by
    * hand) fails loudly with the member list rather than guessing.
    * Idempotent; a no-op when no plan file exists (including after a
    * phase-1 crash, where leftover temp bytes are simply dropped).
    * Called automatically at the start of every compaction. */
  def recoverInterruptedCompaction(spark: SparkSession, path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    recoverSwap(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val planFile = new org.apache.hadoop.fs.Path(dir, "_graft_compact_plan")
    val tmp = new org.apache.hadoop.fs.Path(dir, "_graft_compact_tmp")
    if (fs.exists(planFile)) {
      val plan = readControlFile(fs, planFile).split("\n").toSeq
        .filter(_.nonEmpty).map { line =>
          val Array(out, members) = line.split("\t", 2)
          out -> members.split(",").toSeq.filter(_.nonEmpty)
        }
      plan.foreach { case (out, members) =>
        val outP = new org.apache.hadoop.fs.Path(dir, out)
        val tmpP = new org.apache.hadoop.fs.Path(tmp, out)
        if (fs.exists(outP))
          // replacement landed; finish the member deletes (the ADVICE r12
          // window — these survivors are what a naive retry re-binned
          // into permanent duplicates)
          members.filterNot(_ == out)
            .foreach(m => fs.delete(new org.apache.hadoop.fs.Path(dir, m), false))
        else if (fs.exists(tmpP)) {
          require(fs.rename(tmpP, outP),
            s"compaction recovery: rename $tmpP -> $outP failed")
          members.foreach(m => fs.delete(new org.apache.hadoop.fs.Path(dir, m), false))
        } else if (members.size == 1) {
          // pure move not yet executed — complete it (member may itself
          // be gone if the move raced the crash exactly; then the out
          // name check above already matched)
          val m = new org.apache.hadoop.fs.Path(dir, members.head)
          if (fs.exists(m))
            require(fs.rename(m, outP), s"compaction recovery: rename $m -> $outP failed")
        } else {
          require(members.forall(m =>
            fs.exists(new org.apache.hadoop.fs.Path(dir, m))),
            s"compaction recovery: bin $out has no replacement (dir or " +
              s"temp) and incomplete members $members — the temp dir was " +
              "removed by hand; data for this bin may be lost")
          // all members intact and no replacement anywhere: phase 2 never
          // reached the bin and its temp bytes are gone — leave the
          // originals (correct data, just uncompacted; the re-run re-bins)
        }
      }
      fs.delete(planFile, false)
    }
    fs.delete(tmp, true)
  }

  private def compactCore(spark: SparkSession, path: String,
      targetBytes: Long): (CompactReceipt, Seq[(String, Seq[String])]) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a previous run may have died mid-swap; complete it before listing,
    // so the bin-pack below never sees a half-swapped (doubled) name set
    recoverSwap(fs, dir)
    // a streaming file sink's exactly-once contract lives in its
    // _spark_metadata log, which names the original part files —
    // renaming them would corrupt every metadata-log reader. Refuse
    // loudly; compacting a sink output needs a log-aware rewriter.
    require(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_spark_metadata")),
      s"compactSmallFiles: $path is a streaming file-sink output " +
        "(_spark_metadata present); renaming its files would break the sink's " +
        "exactly-once log. Copy the data out with a batch read first.")
    val parts = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    require(parts.nonEmpty, s"compactSmallFiles: no part-* files under $path")
    val bytesBefore = parts.map(_.getLen).sum

    // greedy consecutive bin-pack: never reorder across files
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[org.apache.hadoop.fs.FileStatus]]
    var cur = Vector.empty[org.apache.hadoop.fs.FileStatus]
    var curBytes = 0L
    parts.foreach { p =>
      if (cur.nonEmpty && curBytes + p.getLen > targetBytes) {
        bins += cur; cur = Vector.empty; curBytes = 0L
      }
      cur :+= p; curBytes += p.getLen
    }
    if (cur.nonEmpty) bins += cur

    // monotone generation: one past the highest marker already present,
    // so re-compaction output never collides with (and stays name-ordered
    // against) the files it replaces
    val genRe = "-c(\\d{4})\\.parquet$".r
    val gen = parts.flatMap(p => genRe.findFirstMatchIn(p.getPath.getName)
      .map(_.group(1).toInt)).foldLeft(0)(math.max) + 1
    def outName(i: Int) = f"part-$i%05d-c$gen%04d.parquet"
    def checkedRename(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit =
      // Hadoop rename signals failure by returning FALSE, not throwing —
      // an unchecked rename here would turn into silent data loss once
      // the swap deletes the originals
      require(fs.rename(from, to), s"compactSmallFiles: rename $from -> $to failed")

    val tmp = new org.apache.hadoop.fs.Path(dir, "_graft_compact_tmp")
    fs.delete(tmp, true); fs.mkdirs(tmp)
    // a multi-split member would lose row order (FileSourceScan orders
    // splits by size, not offset) — keep every rewritten file one split
    val mpbKey = "spark.sql.files.maxPartitionBytes"
    val mpbOld = spark.conf.get(mpbKey)
    spark.conf.set(mpbKey, (targetBytes * 2).toString)
    val multiBins = bins.zipWithIndex.filter(_._1.size > 1)
    val rewritten = multiBins.size
    val moved = bins.size - rewritten
    var swapping = false
    try {
      // ---- phase 1: rewrite multi-file bins into tmp. Writes NEW bytes
      // only; originals untouched — an exception here deletes tmp and
      // loses nothing. Bins are independent single-task jobs, submitted
      // from a bounded thread pool so wall-clock tracks IO, not a
      // serialized driver loop.
      if (rewritten > 0) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(MaxConcurrentBins, rewritten))
        try {
          val futures = multiBins.map { case (bin, i) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                val binDir = new org.apache.hadoop.fs.Path(tmp, f"bin_$i%05d")
                bin.map(s => spark.read.parquet(s.getPath.toString))
                  .reduce(_ unionByName _)
                  .coalesce(1)
                  .write.mode("overwrite").parquet(binDir.toString)
                val part = fs.listStatus(binDir)
                  .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
                require(part.length == 1, s"expected one part file in $binDir")
                checkedRename(part.head.getPath,
                  new org.apache.hadoop.fs.Path(tmp, outName(i)))
                fs.delete(binDir, true)
              }
            })
          }
          futures.foreach(_.get()) // rethrows the first bin failure
        } finally pool.shutdown()
      }
      // ---- phase 2: per-bin swap. Order per bin: replacement IN first,
      // members OUT second — at any crash point a bin's bytes exist under
      // at least one complete name set (worst case: briefly doubled,
      // never lost). The plan lands ATOMICALLY before the first rename so
      // recoverSwap can always roll an interrupted swap forward instead
      // of re-binning a doubled bin.
      writeControlFile(fs, new org.apache.hadoop.fs.Path(dir, "_graft_compact_plan"),
        bins.zipWithIndex.map { case (bin, i) =>
          outName(i) + "\t" + bin.map(_.getPath.getName).mkString(",")
        }.mkString("\n"))
      swapping = true
      bins.zipWithIndex.foreach { case (bin, i) =>
        if (bin.size == 1)
          // pure move: one in-place metadata rename, zero IO, no window
          checkedRename(bin.head.getPath, new org.apache.hadoop.fs.Path(dir, outName(i)))
        else {
          checkedRename(new org.apache.hadoop.fs.Path(tmp, outName(i)),
            new org.apache.hadoop.fs.Path(dir, outName(i)))
          bin.foreach(p => fs.delete(p.getPath, false))
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_compact_plan"), false)
      fs.delete(tmp, true) // success: tmp holds no replacements anymore
    } catch {
      case e: Throwable if !swapping =>
        fs.delete(tmp, true) // only new bytes live in tmp — safe to drop
        throw e
      case e: Throwable =>
        // tmp AND the plan are KEPT: tmp may hold not-yet-swapped
        // replacements for bins whose originals are intact, and the plan
        // is what lets the next run (recoverSwap) complete the swap
        // deterministically instead of re-binning doubled bins
        throw new IllegalStateException(
          s"compactSmallFiles: swap interrupted mid-run; every bin's bytes " +
            s"survive under at least one complete name set, and the swap " +
            s"plan persists at $dir/_graft_compact_plan. Retrying (or " +
            s"recoverInterruptedCompaction) completes the swap before " +
            s"anything is re-binned.", e)
    } finally spark.conf.set(mpbKey, mpbOld)
    val after = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    (CompactReceipt(parts.length, after.length, bytesBefore,
      after.map(_.getLen).sum, rewritten, moved),
      bins.zipWithIndex.map { case (bin, i) =>
        outName(i) -> bin.map(_.getPath.getName)
      }.toSeq)
  }

  /** Build a per-FILE min/max manifest for the integer key columns of a
    * parquet directory — the Delta/Iceberg data-skipping statistics as a
    * plain, persistable DataFrame. Parquet's own min/max live at row-
    * group level INSIDE each footer: a selective scan over 100k files
    * still opens 100k footers just to discover 99k are irrelevant. The
    * manifest hoists those bounds into one tiny table (a row per file —
    * KBs for a 100 TB table), so pruning costs a lookup instead of a
    * listing+footer pass. Build is ONE full scan (pay once at write
    * time, like the clustering itself); re-run after compaction or
    * Z-order maintenance. */
  def buildManifest(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "buildManifest: at least one key column")
    val dir = new org.apache.hadoop.fs.Path(path)
    val listed = listDataFiles(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    require(listed.nonEmpty, s"buildManifest: no data files under $path")
    manifestOf(spark, listed.values.toSeq.sorted, keyCols)
  }

  /** Data files (name -> full path) of `dir`: the file set a manifest
    * describes and the staleness guard reconciles — shared so the two
    * can never disagree on what counts as data. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Map[String, String] =
    dataFileStatuses(fs, dir).map { case (n, s) => n -> s.getPath.toString }

  private def dataFileStatuses(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Map[String, org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> s).toMap

  /** Manifest rows for an EXPLICIT file list, eagerly materialized as a
    * local relation (bounded: one row per file). Eagerness matters
    * twice: the result snapshots the files as of the call (a lazy scan
    * would silently re-describe a mutated directory at execution time),
    * and 0-ROW part files — which a group-by over the data can never
    * see — get an explicit `rows = 0` sentinel with null bounds. The
    * sentinel is load-bearing: an empty streaming micro-batch lands an
    * empty part file, and without its manifest row the scanPruned
    * staleness guard would trip FOREVER (the listing names a file no
    * rebuild can put in a row-derived manifest). Null bounds never
    * intersect a probe box, so sentinel files are never opened. */
  private def manifestOf(spark: SparkSession, paths: Seq[String],
      keyCols: Seq[String]): DataFrame = {
    val statCols = Seq("rows") ++
      keyCols.flatMap(c => Seq(s"${c}_min", s"${c}_max"))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      statCols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType, nullable = c != "rows")))
    def local(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
    if (paths.isEmpty) return local(Nil)
    val agged = manifestAgg(spark.read.parquet(paths: _*), keyCols).collect()
    def nameOf(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val seen = agged.map(r => nameOf(r.getString(0))).toSet
    val sentinels = paths.filterNot(p => seen(nameOf(p))).map(p =>
      org.apache.spark.sql.Row.fromSeq(
        p +: 0L +: Seq.fill(2 * keyCols.size)(null)))
    local(agged.toIndexedSeq.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq))
      ++ sentinels)
  }

  private def manifestAgg(scan: DataFrame, keyCols: Seq[String]): DataFrame = {
    // Loud type guard: the stats columns are `cast("long")`, and for a
    // non-numeric key (e.g. a string) that cast yields NULL min/max —
    // which scanPruned's box filter then treats as "never intersects",
    // silently excluding every row of every file. Integral keys are
    // exact; timestamps degrade to epoch seconds (bounds are epoch
    // seconds then — still correct, conservatively tight to 1 s).
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, TimestampType}
    keyCols.foreach { c =>
      val f = scan.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"manifest key column '$c' not in schema ${scan.schema.fieldNames.toSeq}"))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | TimestampType => ()
        case dt => throw new IllegalArgumentException(
          s"manifest key column '$c' has type ${dt.simpleString}: the long " +
            "cast would make min/max NULL (strings: every file silently " +
            "excluded) or truncated (fractionals: boxes wrong at fractional " +
            "probe bounds). Use an integral or timestamp column.")
      }
    }
    scan.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        keyCols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"${c}_min"),
          max(col(c)).cast("long").as(s"${c}_max"))): _*)
  }

  /** Reconcile `manifest` with the directory's CURRENT file set at
    * incremental cost: files present in the directory but absent from
    * the manifest are scanned (and ONLY those — the read is built from
    * their explicit paths, so the stats pass touches just the new
    * bytes), files that vanished (compaction, retention deletes) have
    * their rows dropped, and everything else is carried over untouched.
    * The result is equal to a fresh [[buildManifest]] of the directory
    * — LayoutSpec pins the equivalence — but an append of k files to a
    * 100k-file table costs a k-file scan instead of a 100 TB one. This
    * is the cheap remedy the [[scanPruned]] staleness guard points at:
    * guard trips -> updateManifest -> scan again. Driver work is ONE
    * bounded manifest collect (rows = file count, ~100 bytes each —
    * MBs at 100k files), matching the guard's own cost class; the
    * survivor rows are filtered in plain driver code and returned as a
    * local relation, so no Catalyst plan grows with the file count (an
    * earlier revision filtered through an `isInCollection` literal set,
    * and the manifestupd receipt caught analysis cost PROPORTIONAL TO
    * THE FILE SET making the "incremental" path slower than a full
    * rebuild at 8k files). Only the new files' stats aggregate stays a
    * distributed plan. */
  def updateManifest(spark: SparkSession, path: String, manifest: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    requireManifestShape(manifest, keyCols, "updateManifest")
    val dir = new org.apache.hadoop.fs.Path(path)
    val listed = listDataFiles(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    def nameOf(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val rows = manifest.collect() // bounded: one row per file
    val inManifest = rows.map(r => nameOf(r.getString(0))).toSet
    val newPaths = (listed.keySet -- inManifest).toSeq.sorted.map(listed)
    val survivors = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        rows.filter(r => listed.contains(nameOf(r.getString(0)))): _*)),
      manifest.schema)
    if (newPaths.isEmpty) survivors
    else survivors.unionByName(manifestOf(spark, newPaths, keyCols))
  }

  /** FileIndex over an explicit, ALREADY-LISTED file set — the scan-side
    * fix for the driver file-list round-trip (verdict r12 task 3).
    * `spark.read.parquet(paths: _*)` resolves every explicit path at the
    * driver (exists-check + glob + re-listing, measured ~2 ms/path:
    * ~20 s to open a 50k-file table), ALL of it redundant with the one
    * directory listing [[scanPruned]]'s staleness guard already did.
    * This index hands those FileStatuses straight to the relation: zero
    * further FS calls, one footer read for the schema, task packing and
    * filter pushdown identical to the standard parquet read path. */
  private final class ExplicitFileIndex(
      files: Seq[org.apache.hadoop.fs.FileStatus])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
      files.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      new org.apache.spark.sql.types.StructType()
  }

  /** Scan `path` reading ONLY the files whose manifest [min, max] box
    * intersects every given `(column, lo, hi)` bound, then apply the
    * same bounds as a residual row filter (kept files may still hold
    * out-of-range rows). Results are identical to a full scan with the
    * filter; the win is that non-intersecting FILES never open — on a
    * Z-ordered layout the kept set shrinks in every clustered dimension.
    * The driver-side collect is bounded by the MANIFEST row count (one
    * row per file — the quantity compactSmallFiles keeps small), never
    * by data volume. The kept files become a relation through
    * [[ExplicitFileIndex]] (statuses reused from the guard's listing, no
    * per-path resolution), so driver cost stays O(file count) with a
    * LISTING-sized constant — the manifest50k receipt prices the
    * difference (~20 s -> sub-second to open 50k kept files).
    *
    * Staleness guard: a manifest describes the directory AS OF its
    * build, and a file added afterwards would be INVISIBLY excluded from
    * results — the silent-wrong-answer failure mode of every external
    * statistics store. So before pruning, the directory's data-file name
    * set is reconciled against the manifest's (one O(file count) listing
    * — the same cost class as the manifest lookup itself, and paid
    * without opening a single footer); any drift fails loudly with the
    * added/removed names. `allowStale = true` is the explicit escape
    * hatch (results then reflect the manifest's snapshot of the
    * directory, not the directory), for callers that pin immutable
    * snapshots externally. */
  def scanPruned(spark: SparkSession, path: String, manifest: DataFrame,
      bounds: Seq[(String, Long, Long)], allowStale: Boolean = false): DataFrame =
    scanPrunedAny(spark, path, manifest, Seq(bounds), allowStale)

  /** [[scanPruned]] generalized to a DISJUNCTION of bound sets (an OR of
    * ANDs): a file is kept when its boxes intersect EVERY bound of ANY
    * set, and the residual row filter is the same OR-of-ANDs predicate.
    * This is what a multi-probe reader wants (round-16: IvfPqIndex.query
    * probes nprobe cells that may land far apart — the single [min, max]
    * SPAN over them can cover nearly the whole table on a fragmented
    * pre-recluster layout, while the union of per-cell ranges stays
    * exact). Cost shape is unchanged: one listing, one bounded
    * manifest collect, one explicit-index relation. */
  def scanPrunedAny(spark: SparkSession, path: String, manifest: DataFrame,
      boundSets: Seq[Seq[(String, Long, Long)]],
      allowStale: Boolean = false): DataFrame = {
    require(boundSets.nonEmpty && boundSets.forall(_.nonEmpty),
      "scanPrunedAny: at least one non-empty (column, lo, hi) bound set")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE listing serves both the staleness guard and the relation build
    val statuses = dataFileStatuses(fs, dir)
    if (!allowStale) {
      // compare by NAME (unique within the dir): input_file_name() and
      // Hadoop listings spell the same local path as file:/// vs file:/
      val listed = statuses.keySet
      val inManifest = manifest.select("file").collect()
        .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)).toSet
      if (listed != inManifest)
        throw new IllegalStateException(
          s"scanPruned: manifest is STALE for $path — results would silently " +
            s"exclude data. Not in manifest: ${(listed -- inManifest).take(5)}; " +
            s"manifest-only: ${(inManifest -- listed).take(5)}. Rebuild with " +
            "buildManifest (or pass allowStale = true to scan the manifest's " +
            "snapshot of the directory).")
    }
    val keepPred = boundSets.map(_.map { case (c, lo, hi) =>
      col(s"${c}_min") <= hi && col(s"${c}_max") >= lo
    }.reduce(_ && _)).reduce(_ || _)
    val keep = manifest.filter(keepPred)
      .select("file").collect().map(_.getString(0))
    val residual = boundSets.map(_.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _)).reduce(_ || _)
    val kept = keep.flatMap(p =>
      statuses.get(p.substring(p.lastIndexOf('/') + 1)))
    if (keep.isEmpty)
      // preserve schema with an empty frame rather than failing the read
      spark.read.parquet(path).filter(lit(false))
    else if (kept.length != keep.length)
      // only reachable under allowStale with files that vanished since
      // the manifest snapshot: keep the explicit-path read's loud
      // PATH_NOT_FOUND semantics instead of silently narrowing
      spark.read.parquet(keep.toIndexedSeq: _*).filter(residual)
    else {
      // one footer for the schema, zero per-path resolution for the rest
      val dataSchema = spark.read.parquet(kept.head.getPath.toString).schema
      val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new ExplicitFileIndex(kept.toIndexedSeq),
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat =
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(spark)
      spark.baseRelationToDataFrame(rel).filter(residual)
    }
  }

  /** What a [[reclusterWithManifest]] run did. `rows` comes from the new
    * manifest's row sums — no extra scan. */
  final case class ReclusterReceipt(filesBefore: Int, filesAfter: Int, rows: Long)

  private def reclusterNewDir(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + "._graft_recluster_new")
  private def reclusterOldDir(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + "._graft_recluster_old")

  /** RE-CLUSTER maintenance — the fix for the one layout decay
    * [[compactSmallFiles]] cannot repair. A live incremental writer (the
    * [[graft.streaming.ManifestedParquetSink]]) names files in BATCH
    * arrival order, so "name order IS clustering order" does not hold for
    * its output: compacting such a directory keeps the data correct but
    * merges unrelated min/max boxes and silently degrades skipping. This
    * rewrites the WHOLE directory [[writeZOrderedEquiDepth]]-clustered
    * (quantile rank space — robust on any key-domain shape), renames the
    * output to generation-marked names (name order == clustering order
    * again, so future compactions stay box-tight), builds the fresh
    * manifest BEFORE the swap (the rewrite just wrote those bytes — they
    * are hot), and swaps via two ATOMIC directory renames:
    *
    *   dir -> dir._graft_recluster_old ; new -> dir ; delete old
    *
    * At any crash point the data exists in full under exactly one of the
    * three directory names, and [[recoverInterruptedRecluster]] (run
    * automatically on entry) rolls the swap forward or back from the
    * directory states alone — no plan file needed, because the unit of
    * rename is the whole directory. Readers in the one-rename window see
    * a missing directory (loud), never a half set.
    *
    * Coordination with a live sink: refuses when an in-flight
    * `_staging_b*` micro-batch exists (pause the stream first — the
    * single-writer contract every layout maintenance op assumes), and
    * CARRIES the sink's `_graft_batch_N` commit markers into the new
    * directory so a restarted stream's replay protection survives the
    * swap. Returns the receipt plus the new manifest — already
    * driver-materialized (frozen), paths remapped to the final directory
    * — ready to publish.
    *
    * Scale shape: one full read + quantile probe + one range exchange +
    * clustered write — the cost of [[writeZOrderedEquiDepth]] itself,
    * which is the point: this IS the periodic rewrite a 100 TB table
    * schedules per partition/day-slice, not per table. Driver work is
    * O(file count) renames and the bounded manifest collect. */
  def reclusterWithManifest(spark: SparkSession, path: String,
      keyCols: Seq[String], numFiles: Int = 32,
      buckets: Int = 4096,
      transform: DataFrame => DataFrame = identity): (ReclusterReceipt, DataFrame) = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverReclusterSwap(fs, dir)
    // complete any pending COMPACTION swap too: its plan file must not be
    // carried into the new directory as a stale control file
    recoverSwap(fs, dir)
    require(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_spark_metadata")),
      s"reclusterWithManifest: $path is a streaming file-sink output " +
        "(_spark_metadata names the original files). Copy the data out first.")
    require(!fs.listStatus(dir).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("_staging_b")),
      s"reclusterWithManifest: $path has an in-flight streaming micro-batch " +
        "(_staging_b*). Pause the ManifestedParquetSink stream before " +
        "re-clustering — the rewrite would race the batch's commit renames.")
    val before = listDataFiles(fs, dir)
    require(before.nonEmpty, s"reclusterWithManifest: no data files under $path")
    val newDir = reclusterNewDir(dir)
    val oldDir = reclusterOldDir(dir)
    fs.delete(newDir, true)
    // `transform` lets maintenance REWRITE semantics ride the same swap
    // machinery (round-16: tombstone purge drops deleted rows here) —
    // the whole-directory rename still publishes all-or-nothing
    writeZOrderedEquiDepth(transform(spark.read.parquet(path)), keyCols,
      newDir.toString, numFiles, buckets)
    // generation-marked names in range order: one past the highest marker
    // in the CURRENT directory, so the rewrite is detectable and a later
    // compaction's name-order premise holds
    val genRe = "-c(\\d{4})\\.parquet$".r
    val gen = before.keys.flatMap(n => genRe.findFirstMatchIn(n)
      .map(_.group(1).toInt)).foldLeft(0)(math.max) + 1
    val newParts = fs.listStatus(newDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    newParts.zipWithIndex.foreach { case (s, i) =>
      val to = new org.apache.hadoop.fs.Path(newDir, f"part-$i%05d-c$gen%04d.parquet")
      require(fs.rename(s.getPath, to), s"recluster rename ${s.getPath} -> $to failed")
    }
    // carry the sink's commit markers (and any other control files) so a
    // restarted stream still skips its committed batches after the swap
    fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("_graft_compact"))
      .foreach { m =>
        org.apache.hadoop.fs.FileUtil.copy(fs, m.getPath, fs,
          new org.apache.hadoop.fs.Path(newDir, m.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
      }
    // fresh manifest of the new layout, built pre-swap (bytes are hot),
    // remapped to the final directory BY NAME — input_file_name() and
    // Hadoop listings spell the same local path differently (file:///
    // vs file:/), so a prefix strip would silently not match
    val finalPrefix = fs.makeQualified(dir).toString
    val mRows = buildManifest(spark, newDir.toString, keyCols).collect().map { r =>
      val f = r.getString(0)
      org.apache.spark.sql.Row.fromSeq(
        (finalPrefix + f.substring(f.lastIndexOf('/'))) +: r.toSeq.tail)
    }
    val mSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      (Seq("rows") ++ keyCols.flatMap(c => Seq(s"${c}_min", s"${c}_max")))
        .map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType, nullable = c != "rows")))
    val manifest = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(mRows: _*)), mSchema)
    // THE swap: two atomic directory renames, then drop the old bytes
    require(fs.rename(dir, oldDir), s"recluster swap: rename $dir -> $oldDir failed")
    require(fs.rename(newDir, dir), s"recluster swap: rename $newDir -> $dir failed")
    fs.delete(oldDir, true)
    // Spark caches file listings per path; the directory just changed
    // identity underneath that cache
    spark.catalog.refreshByPath(path)
    (ReclusterReceipt(before.size, newParts.length,
      mRows.map(_.getLong(1)).sum), manifest)
  }

  /** Roll an interrupted [[reclusterWithManifest]] swap forward (or back,
    * when the rewrite never finished) from the sibling-directory states
    * alone. Idempotent; run automatically on recluster entry. */
  def recoverInterruptedRecluster(spark: SparkSession, path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    recoverReclusterSwap(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def recoverReclusterSwap(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val newDir = reclusterNewDir(dir)
    val oldDir = reclusterOldDir(dir)
    if (fs.exists(oldDir)) {
      if (fs.exists(dir)) fs.delete(oldDir, true) // crash before final delete
      else if (fs.exists(newDir)) {
        // crash between the two renames: roll forward
        require(fs.rename(newDir, dir), s"recluster recovery: $newDir -> $dir failed")
        fs.delete(oldDir, true)
      } else
        // new bytes vanished (manual cleanup): roll back to the original
        require(fs.rename(oldDir, dir), s"recluster recovery: $oldDir -> $dir failed")
    } else if (fs.exists(newDir))
      // crash before the swap began: the original dir is untouched and
      // complete — drop the unreferenced rewrite bytes
      fs.delete(newDir, true)
  }
}
