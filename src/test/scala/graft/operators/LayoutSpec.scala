package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Z-order layout must deliver what the clustering key promises:
  * per-file (x, y) bounding boxes that are small in BOTH dimensions —
  * the property parquet min/max skipping monetizes — and a filtered
  * scan against the layout must actually READ fewer rows. The spec
  * writes lineitem twice, hash-spread vs Z-ordered, and gates on (a)
  * summed per-file box area, (b) the same with keys far beyond the
  * 16-bit interleave domain (the rescale path — a `& 65535` mask wraps
  * such keys and quietly loses the property), and (c) the scan-node
  * numOutputRows metric of a key-filtered aggregate: the measured
  * row-group-skipping payoff, not just its geometric predictor. */
class LayoutSpec extends SparkSpec {

  private def boxArea(dir: String, xExpr: String, yExpr: String): Double = {
    val fs = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(fs.length >= 4, s"expected several part files in $dir")
    fs.map { f =>
      val r = spark.read.parquet(f)
        .selectExpr(s"min($xExpr) AS x0", s"max($xExpr) AS x1",
          s"min($yExpr) AS y0", s"max($yExpr) AS y1")
        .head()
      (r.getLong(1) - r.getLong(0) + 1).toDouble * (r.getLong(3) - r.getLong(2) + 1)
    }.sum
  }

  private def src: DataFrame = graft.Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

  test("z-ordered write shrinks per-file min/max boxes in both dimensions") {
    val plainDir = tempDir("layout-plain")
    val zDir = tempDir("layout-z")

    // hash spread: every file sees the whole key range (the default
    // layout a 100 TB ingest produces without clustering)
    src.repartition(8).write.mode("overwrite").parquet(plainDir)
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", zDir, numFiles = 16)

    // same rows either way
    val n0 = spark.read.parquet(plainDir).count()
    val nz = spark.read.parquet(zDir).count()
    assert(n0 === src.count() && nz === n0, "layout must not drop rows")

    val plainArea = boxArea(plainDir, "l_partkey", "l_suppkey")
    val zArea = boxArea(zDir, "l_partkey", "l_suppkey")
    // Z-ordering must cut the summed box area by at least 2x on this
    // fixture (measured ~4-10x; 2x keeps the gate robust to fixture
    // regeneration). Smaller boxes = more row groups skipped by a
    // min/max-pruned scan on EITHER key.
    assert(zArea * 2 <= plainArea,
      f"z-order layout not selective: z=$zArea%.0f plain=$plainArea%.0f")
  }

  test("rescale keeps boxes tight for keys far beyond the 16-bit domain") {
    // Keys * 2^17: under the old `& 65535` mask EVERY scaled x-key
    // collapses to 0, the Morton code degenerates to the y dimension,
    // and per-file x-boxes span the whole key range — the silent-wrap
    // regression ADVICE r9 flagged. The rescale path must keep raw-
    // domain boxes tight at any key magnitude.
    val big = src
      .withColumn("l_partkey", col("l_partkey") * 131072L)
      .withColumn("l_suppkey", col("l_suppkey") * 131072L)
    val plainDir = tempDir("layout-bigplain")
    val zDir = tempDir("layout-bigz")
    big.repartition(8).write.mode("overwrite").parquet(plainDir)
    Layout.writeZOrdered(big, "l_partkey", "l_suppkey", zDir, numFiles = 8)
    val plainArea = boxArea(plainDir, "l_partkey", "l_suppkey")
    val zArea = boxArea(zDir, "l_partkey", "l_suppkey")
    assert(zArea * 2 <= plainArea,
      f"big-key z-order layout not selective: z=$zArea%.0f plain=$plainArea%.0f")
  }

  /** Rows the parquet reader MATERIALIZED for `df` — the scan node's
    * numOutputRows after row-group/page skipping (record-level parquet
    * filtering is off by default, so surviving row groups stream out in
    * full and the Spark Filter node prunes rows after the scan; fewer
    * scan-output rows == more row groups skipped). AQE is disabled by
    * the caller so the executed plan is a plain tree. */
  private def rowsScanned(df: DataFrame): Long = {
    // drive the Dataset's OWN QueryExecution — a noop write builds a
    // fresh QueryExecution and leaves these metrics at zero, turning
    // the gate into a vacuous 0 <= 0
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a parquet scan in the plan")
    val n = scans.map(_.metrics("numOutputRows").value).sum
    assert(n > 0, "scan metric read zero — the receipt would be vacuous")
    n
  }

  test("3-column z-order: every clustered key earns scan skipping") {
    val plainDir = tempDir("layout-3plain")
    val zDir = tempDir("layout-3z")
    src.repartition(8).write.mode("overwrite").parquet(plainDir)
    Layout.writeZOrderedN(src, Seq("l_orderkey", "l_partkey", "l_suppkey"),
      zDir, numFiles = 32)
    assert(spark.read.parquet(zDir).count() === src.count(), "rows dropped")

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def probe(dir: String, pred: String): (Long, Double) = {
        val q = spark.read.parquet(dir).filter(expr(pred))
          .agg(sum(col("l_quantity").cast("double")).as("q"))
        (rowsScanned(q), q.head().getDouble(0))
      }
      // with 32 files (~5 leading interleave bits over 3 keys) each key
      // holds 1-2 cut bits: gate a modest >=1.5x on EVERY key — the
      // property that matters is that no clustered key is left with zero
      // discrimination (the old exact-value path's failure mode)
      // predicates sized to the sf0.001 key domains (orderkey 0..1499,
      // partkey 0..199, suppkey 0..9): each selects well under half its
      // key range, so 1-2 cut bits per key are enough to exclude files
      for (pred <- Seq("l_orderkey <= 600", "l_partkey <= 40", "l_suppkey <= 2")) {
        val (plainRows, pSum) = probe(plainDir, pred)
        val (zRows, zSum) = probe(zDir, pred)
        assert(math.abs(pSum - zSum) < 1e-6, s"layouts disagree on $pred")
        info(f"$pred%-20s scan rows: z=$zRows plain=$plainRows (${plainRows.toDouble / zRows}%.1fx skipped)")
        assert(zRows * 3 <= plainRows * 2,
          s"3-col z-layout not skipping on $pred: z=$zRows plain=$plainRows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("compactSmallFiles: fewer files and scan tasks, same rows, skipping survives") {
    val plainDir = tempDir("layout-cplain")
    val zDir = tempDir("layout-cz")
    src.repartition(8).write.mode("overwrite").parquet(plainDir)
    // 64 deliberately-small z-files; consecutive bins then merge back to
    // ~16 — the same range partition the 16-file z-write would produce,
    // so the existing >=2x skipping gate must survive compaction intact
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", zDir, numFiles = 64)
    def checksum(dir: String): (Long, Long) = {
      val r = spark.read.parquet(dir).selectExpr("count(*)",
        "sum(cast(hash(l_orderkey, l_partkey, l_suppkey, l_quantity) AS bigint))").head()
      (r.getLong(0), r.getLong(1))
    }
    val before = checksum(zDir)
    val tasksBefore = spark.read.parquet(zDir).rdd.getNumPartitions
    val fsz = new java.io.File(zDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length)
    assert(fsz.length === 64, s"fixture expected 64 small files, got ${fsz.length}")

    val receipt = Layout.compactSmallFiles(spark, zDir, targetBytes = fsz.sum / 16 + 1)
    info(s"receipt: $receipt, scan tasks $tasksBefore -> " +
      s"${spark.read.parquet(zDir).rdd.getNumPartitions}")
    assert(receipt.filesBefore === 64)
    assert(receipt.filesAfter <= 24 && receipt.filesAfter >= 8,
      s"bin-packing off: $receipt")
    assert(new java.io.File(zDir).listFiles()
      .count(_.getName.startsWith("part-")) === receipt.filesAfter)
    assert(checksum(zDir) === before, "compaction changed the data")
    assert(spark.read.parquet(zDir).rdd.getNumPartitions <= tasksBefore,
      "compaction must never cost scan tasks")

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def probe(dir: String, pred: String): (Long, Double) = {
        val q = spark.read.parquet(dir).filter(expr(pred))
          .agg(sum(col("l_quantity").cast("double")).as("q"))
        (rowsScanned(q), q.head().getDouble(0))
      }
      for (pred <- Seq("l_partkey <= 25", "l_suppkey <= 2")) {
        val (plainRows, pSum) = probe(plainDir, pred)
        val (zRows, zSum) = probe(zDir, pred)
        assert(math.abs(pSum - zSum) < 1e-6, s"layouts disagree on $pred")
        info(f"$pred%-18s scan rows after compaction: z=$zRows plain=$plainRows (${plainRows.toDouble / zRows}%.1fx skipped)")
        assert(zRows * 2 <= plainRows,
          s"compaction destroyed the clustering on $pred: z=$zRows plain=$plainRows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("manifest-pruned scan: fewer files opened on the z-layout, identical results") {
    val plainDir = tempDir("layout-mplain")
    val zDir = tempDir("layout-mz")
    src.repartition(8).write.mode("overwrite").parquet(plainDir)
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", zDir, numFiles = 16)
    val mPlain = Layout.buildManifest(spark, plainDir, Seq("l_partkey", "l_suppkey"))
    val mZ = Layout.buildManifest(spark, zDir, Seq("l_partkey", "l_suppkey"))
    assert(mZ.count() === 16 && mPlain.count() === 8, "one manifest row per file")

    def full(dir: String, bounds: Seq[(String, Long, Long)]) =
      bounds.foldLeft(spark.read.parquet(dir)) { case (d, (c, lo, hi)) =>
        d.filter(col(c) >= lo && col(c) <= hi) }
    for (bounds <- Seq(
        Seq(("l_partkey", 0L, 25L)),
        Seq(("l_suppkey", 0L, 2L)),
        Seq(("l_partkey", 100L, 140L), ("l_suppkey", 5L, 7L)))) {
      val pruned = Layout.scanPruned(spark, zDir, mZ, bounds)
      val expect = full(zDir, bounds)
      assert(pruned.count() === expect.count() &&
        pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
        s"pruned scan diverges on $bounds")
      val filesKept = pruned.inputFiles.length
      info(s"$bounds: z-layout files ${filesKept}/16, " +
        s"plain ${Layout.scanPruned(spark, plainDir, mPlain, bounds).inputFiles.length}/8")
      // the z-layout's tight boxes must actually exclude files
      assert(filesKept * 2 <= 16, s"no file-level pruning on $bounds: $filesKept/16")
      // a hash layout prunes nothing — every file spans the key range
      assert(Layout.scanPruned(spark, plainDir, mPlain, bounds)
        .inputFiles.length === 8, "hash layout unexpectedly pruned (fixture drift?)")
    }
    // disjoint bounds: empty result, schema preserved, no files read
    val none = Layout.scanPruned(spark, zDir, mZ, Seq(("l_partkey", 100000L, 200000L)))
    assert(none.count() === 0 && none.schema === spark.read.parquet(zDir).schema)
  }

  test("layout lifecycle: z-order -> compact -> rebuilt manifest still prunes") {
    // the maintenance loop a 100 TB table actually runs: cluster once,
    // compact the small files the next increments produce, refresh the
    // skipping stats — each primitive must compose with the others
    val dir = tempDir("layout-cycle")
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", dir, numFiles = 48)
    val receipt = Layout.compactSmallFiles(spark, dir,
      targetBytes = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.length).sum / 12 + 1)
    assert(receipt.filesAfter < receipt.filesBefore / 2, s"no compaction: $receipt")
    val manifest = Layout.buildManifest(spark, dir, Seq("l_partkey", "l_suppkey"))
    assert(manifest.count() === receipt.filesAfter, "manifest rows != files")
    val bounds = Seq(("l_partkey", 0L, 25L))
    val pruned = Layout.scanPruned(spark, dir, manifest, bounds)
    val expect = spark.read.parquet(dir)
      .filter(col("l_partkey") >= 0 && col("l_partkey") <= 25)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    val kept = pruned.inputFiles.length
    info(s"post-compaction pruning: $kept/${receipt.filesAfter} files")
    assert(kept * 2 <= receipt.filesAfter,
      s"compaction destroyed manifest prunability: $kept/${receipt.filesAfter}")
  }

  test("compactSmallFiles refuses a streaming file-sink output") {
    val dir = tempDir("layout-csink")
    src.repartition(2).write.mode("overwrite").parquet(dir)
    // simulate a sink dir: the metadata log names the original files,
    // so renames would corrupt every metadata-log reader
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "_spark_metadata"))
    val e = intercept[IllegalArgumentException](
      Layout.compactSmallFiles(spark, dir, targetBytes = 1L << 20))
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("compactSmallFiles moves (never rewrites) files already at target") {
    val dir = tempDir("layout-cmove")
    src.repartition(4).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.length).sorted.toSeq
    val receipt = Layout.compactSmallFiles(spark, dir, targetBytes = 1L)
    assert(receipt === Layout.CompactReceipt(4, 4, before.sum, before.sum, 0, 4),
      s"expected a pure-move run: $receipt")
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.length).sorted.toSeq
    assert(after === before, "a metadata-only move must keep every byte")
  }

  test("scanPruned fails loudly on a stale manifest; allowStale is the explicit escape") {
    // ADVICE r11 / verdict task 1: a file written AFTER buildManifest was
    // silently excluded from results — the one API that could return
    // wrong data through correct use. The reconciliation must catch both
    // drift directions, and a rebuild must clear it.
    val dir = tempDir("layout-stale")
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", dir, numFiles = 8)
    val manifest = Layout.buildManifest(spark, dir, Seq("l_partkey", "l_suppkey"))
      .cache()
    manifest.count()
    val bounds = Seq(("l_partkey", 0L, 25L))
    val fresh = Layout.scanPruned(spark, dir, manifest, bounds).count()
    assert(fresh > 0, "vacuous fixture")

    // simulate an incremental writer appending a file post-build
    val first = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    val added = java.nio.file.Paths.get(dir, "part-zz-appended.parquet")
    java.nio.file.Files.copy(first.toPath, added)
    val e = intercept[IllegalStateException](
      Layout.scanPruned(spark, dir, manifest, bounds).count())
    assert(e.getMessage.contains("STALE") && e.getMessage.contains("appended"))
    // escape hatch: manifest's snapshot of the directory, not the dir
    assert(Layout.scanPruned(spark, dir, manifest, bounds,
      allowStale = true).count() === fresh)
    // removal drift must fail too
    java.nio.file.Files.delete(added)
    java.nio.file.Files.delete(first.toPath)
    intercept[IllegalStateException](
      Layout.scanPruned(spark, dir, manifest, bounds).count())
    // rebuild reconciles (drop Spark's own file-listing cache first —
    // the files were deleted behind its back; without the refresh the
    // rebuilt manifest lists the deleted file and the guard — correctly —
    // keeps firing)
    spark.catalog.refreshByPath(dir)
    val rebuilt = Layout.buildManifest(spark, dir, Seq("l_partkey", "l_suppkey"))
    Layout.scanPruned(spark, dir, rebuilt, bounds).count() // must not throw
  }

  test("compactSmallFiles: a failed bin rewrite preserves every original byte") {
    // ADVICE r12-high regression pin: single-file bins used to be renamed
    // INTO the temp dir before the swap, so a later bin's failure deleted
    // their only copy with the temp cleanup. Now phase 1 writes only NEW
    // files; any failure must leave the source dir bit-identical.
    val dir = tempDir("layout-cfail")
    src.repartition(4).write.mode("overwrite").parquet(dir)
    // a garbage member makes its bin's rewrite throw mid-run
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-zz-corrupt.parquet"),
      "not parquet".getBytes)
    def snapshot() = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.length).sortBy(_._1).toSeq
    val before = snapshot()
    intercept[Exception](
      Layout.compactSmallFiles(spark, dir, targetBytes = Long.MaxValue / 4))
    assert(snapshot() === before,
      "a failed compaction must leave the directory untouched")
    assert(!new java.io.File(dir, "_graft_compact_tmp").exists(),
      "phase-1 failure must clean up its temp dir")
  }

  test("compacted names carry a monotone generation; re-runs increment it") {
    val dir = tempDir("layout-cgen")
    src.repartition(8).write.mode("overwrite").parquet(dir)
    val total = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    Layout.compactSmallFiles(spark, dir, targetBytes = total / 4 + 1)
    def names() = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).sorted.toSeq
    assert(names().forall(_.matches("part-\\d{5}-c0001\\.parquet")),
      s"expected generation-1 names, got ${names()}")
    // second run (pure moves or merges) must mint generation 2, so mixed
    // writer generations in a dir are detectable by name alone
    Layout.compactSmallFiles(spark, dir, targetBytes = total + 1)
    assert(names().forall(_.matches("part-\\d{5}-c0002\\.parquet")),
      s"expected generation-2 names, got ${names()}")
    // data unchanged through both swaps
    assert(spark.read.parquet(dir).count() === src.count())
  }

  test("filtered scan against the z-layout reads >=2x fewer rows (skipping receipt)") {
    val plainDir = tempDir("layout-scanplain")
    val zDir = tempDir("layout-scanz")
    src.repartition(8).write.mode("overwrite").parquet(plainDir)
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", zDir, numFiles = 16)

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def probe(dir: String, pred: String): (Long, Double) = {
        val q = spark.read.parquet(dir).filter(expr(pred))
          .agg(sum(col("l_quantity").cast("double")).as("q"))
        (rowsScanned(q), q.head().getDouble(0))
      }
      // both clustered dimensions must pay — partkey AND suppkey
      for (pred <- Seq("l_partkey <= 25", "l_suppkey <= 2")) {
        val (plainRows, pSum) = probe(plainDir, pred)
        val (zRows, zSum) = probe(zDir, pred)
        assert(math.abs(pSum - zSum) < 1e-6, s"layouts disagree on $pred")
        info(f"$pred%-18s scan rows: z=$zRows plain=$plainRows (${plainRows.toDouble / zRows}%.1fx skipped)")
        assert(zRows * 2 <= plainRows,
          s"z-layout scan not skipping on $pred: z=$zRows plain=$plainRows")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("updateManifest: incremental append + compaction reconcile equals a full rebuild") {
    val dir = tempDir("layout-upd")
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", dir, numFiles = 8)
    val keys = Seq("l_partkey", "l_suppkey")
    // materialize manifests driver-side: a live manifest DataFrame pins
    // the listing of its creation time, and we mutate the dir below
    def freeze(df: DataFrame): DataFrame = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)), df.schema)
    def canon(df: DataFrame): Set[(String, Long, Long, Long, Long, Long)] =
      df.collect().map { r =>
        val f = r.getString(0)
        (f.substring(f.lastIndexOf('/') + 1), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      }.toSet
    val m0 = freeze(Layout.buildManifest(spark, dir, keys))

    // APPEND: two fresh part files land after the build (the staleness
    // guard's scenario — updateManifest is its remedy)
    val extra = tempDir("layout-upd-extra")
    src.limit(500).repartition(2).write.mode("overwrite").parquet(extra)
    val newNames = new java.io.File(extra).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.map { case (f, i) =>
        val n = s"part-zz-append$i.parquet"
        assert(f.renameTo(new java.io.File(dir, n))); n
      }
    assert(newNames.length === 2)
    assertThrows[IllegalStateException](Layout.scanPruned(spark, dir, m0,
      Seq(("l_partkey", 0L, Long.MaxValue))))
    val m1 = freeze(Layout.updateManifest(spark, dir, m0, keys))
    assert(canon(m1) === canon(Layout.buildManifest(spark, dir, keys)),
      "incremental append update != full rebuild")

    // COMPACTION: every original vanishes, replacements appear — update
    // must drop the dead rows and scan only the compacted files
    Layout.compactSmallFiles(spark, dir, targetBytes = Long.MaxValue / 2)
    val m2 = freeze(Layout.updateManifest(spark, dir, m1, keys))
    assert(canon(m2) === canon(Layout.buildManifest(spark, dir, keys)),
      "post-compaction update != full rebuild")
    // and the reconciled manifest actually serves a pruned scan
    val got = Layout.scanPruned(spark, dir, m2, Seq(("l_partkey", 0L, Long.MaxValue)))
      .count()
    assert(got === src.count() + 500, "reconciled manifest lost rows")
  }

  test("compactSmallFilesWithManifest derives post-compaction stats without a scan") {
    val dir = tempDir("layout-derive")
    val keys = Seq("l_partkey", "l_suppkey")
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", dir, numFiles = 8)
    // plus an unclustered append AND an empty file (sentinel row): the
    // derivation must fold real boxes, carry row sums, and ignore nulls
    src.limit(300).repartition(2).write.mode("append").parquet(dir)
    src.filter(lit(false)).coalesce(1).write.mode("append").parquet(dir)
    val m = Layout.buildManifest(spark, dir, keys)
    val (receipt, derived) =
      Layout.compactSmallFilesWithManifest(spark, dir, m, keys,
        targetBytes = Long.MaxValue / 2)
    assert(receipt.filesAfter < receipt.filesBefore)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      val f = r.getString(0)
      (f.substring(f.lastIndexOf('/') + 1), r.getLong(1),
        (2 to 5).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
    }.toSet
    // THE pin: arithmetic over the old boxes == a fresh scan of the new files
    assert(canon(derived) === canon(Layout.buildManifest(spark, dir, keys)),
      "derived manifest != rebuilt manifest")
    // and it serves a pruned scan with no staleness trip
    assert(Layout.scanPruned(spark, dir, derived,
      Seq(("l_partkey", 0L, Long.MaxValue))).count() === src.count() + 300)
    // stale input is refused loudly, not silently derived from
    val stale = Layout.buildManifest(spark, dir, keys)
    src.limit(10).coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException](
      Layout.compactSmallFilesWithManifest(spark, dir, stale, keys))
    assert(e.getMessage.contains("updateManifest"))
  }

  test("manifest builders refuse non-numeric key columns loudly") {
    // a string key's min/max cast("long") is NULL (every file silently
    // dropped by the box filter); a double key TRUNCATES (boxes wrong at
    // fractional probe bounds). The guard must fire at BUILD time,
    // naming the column.
    val dir = tempDir("layout-typeguard")
    src.limit(100).write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException](
      Layout.buildManifest(spark, dir, Seq("l_partkey", "l_quantity")).collect())
    assert(e.getMessage.contains("l_quantity") && e.getMessage.contains("double"))
    // and through the incremental path too (new files are aggregated
    // with the same stats pass)
    val good = Layout.buildManifest(spark, dir, Seq("l_partkey")).collect()
    assert(good.nonEmpty)
    val e2 = intercept[IllegalArgumentException](
      Layout.buildManifest(spark, dir, Seq("no_such_col")).collect())
    assert(e2.getMessage.contains("no_such_col"))
  }

  test("an interrupted swap (doubled bin) is rolled forward, never re-binned into duplicates") {
    // ADVICE r13-medium: a crash between a bin's replacement rename-in
    // and its member deletes leaves that bin's rows under BOTH name
    // sets; a naive retry re-binned replacement + survivors together and
    // permanently merged the duplicates. The persisted swap plan must
    // let the retry complete the ORIGINAL swap instead.
    val dir = tempDir("layout-recover")
    val s2 = spark
    import s2.implicits._
    def slice(lo: Long, hi: Long) = (lo until hi).map(i => (i, i * 7)).toDF("id", "v")
    def writePart(name: String, lo: Long, hi: Long): Unit = {
      val stage = tempDir("layout-recover-st")
      slice(lo, hi).coalesce(1).write.mode("overwrite").parquet(stage)
      val f = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      assert(f.renameTo(new java.io.File(dir, name)))
    }
    // four originals in two planned bins
    writePart("part-00000-a.parquet", 0, 100)
    writePart("part-00001-b.parquet", 100, 200)
    writePart("part-00002-c.parquet", 200, 300)
    writePart("part-00003-d.parquet", 300, 400)
    // crash state: bin 0's replacement landed but members SURVIVE
    // (the doubled window); bin 1's replacement still sits in tmp
    val stage0 = tempDir("layout-recover-b0")
    slice(0, 200).coalesce(1).write.mode("overwrite").parquet(stage0)
    assert(new java.io.File(stage0).listFiles().filter(_.getName.endsWith(".parquet")).head
      .renameTo(new java.io.File(dir, "part-00000-c0001.parquet")))
    val tmp = new java.io.File(dir, "_graft_compact_tmp"); tmp.mkdirs()
    val stage1 = tempDir("layout-recover-b1")
    slice(200, 400).coalesce(1).write.mode("overwrite").parquet(stage1)
    assert(new java.io.File(stage1).listFiles().filter(_.getName.endsWith(".parquet")).head
      .renameTo(new java.io.File(tmp, "part-00001-c0001.parquet")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_graft_compact_plan"),
      "part-00000-c0001.parquet\tpart-00000-a.parquet,part-00001-b.parquet\n" +
        "part-00001-c0001.parquet\tpart-00002-c.parquet,part-00003-d.parquet")
    // sanity: a plain read of the crash state IS doubled (bin 0 twice)
    assert(spark.read.parquet(dir).count() === 600)

    // the retry: recovery completes the old swap, THEN the new compaction
    // bins the two gen-1 replacements
    val receipt = Layout.compactSmallFiles(spark, dir, targetBytes = Long.MaxValue / 4)
    spark.catalog.refreshByPath(dir)
    val got = spark.read.parquet(dir)
    assert(got.count() === 400, s"recovery duplicated or lost rows: $receipt")
    assert(got.select("id").as[Long].collect().sorted.toSeq === (0L until 400L),
      "row content diverged through recovery + compaction")
    assert(!new java.io.File(dir, "_graft_compact_plan").exists() &&
      !tmp.exists(), "control files must be cleaned up")
    // the re-compaction minted generation 2 over the recovered gen-1 files
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    assert(names === Seq("part-00000-c0002.parquet"), s"unexpected names $names")
  }

  test("recovery completes a swap whose crash frontier includes pending moves") {
    // plan with a single-file bin whose move never executed: recovery
    // must perform the move itself so the whole swap lands
    val dir = tempDir("layout-recover2")
    val s2 = spark
    import s2.implicits._
    def writePart(name: String, lo: Long, hi: Long): Unit = {
      val stage = tempDir("layout-recover2-st")
      (lo until hi).map(i => (i, i * 7)).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      assert(new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
        .renameTo(new java.io.File(dir, name)))
    }
    writePart("part-00000-a.parquet", 0, 50)
    writePart("part-00001-b.parquet", 50, 100)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_graft_compact_plan"),
      "part-00000-c0001.parquet\tpart-00000-a.parquet\n" +
        "part-00001-c0001.parquet\tpart-00001-b.parquet")
    Layout.recoverInterruptedCompaction(spark, dir)
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).sorted.toSeq
    assert(names === Seq("part-00000-c0001.parquet", "part-00001-c0001.parquet"))
    assert(spark.read.parquet(dir).count() === 100)
    // idempotent: a second recovery call is a no-op
    Layout.recoverInterruptedCompaction(spark, dir)
    assert(spark.read.parquet(dir).count() === 100)
  }

  test("reclusterWithManifest restores skipping that batch-ordered compaction degraded") {
    // Verdict r12 task 2: a ManifestedParquetSink names files in BATCH
    // arrival order; every batch spans the whole key range, so compaction
    // merges unrelated boxes and file-level pruning decays to nothing.
    // The recluster rewrite must bring the files-kept ratio back down and
    // leave a ready-to-publish manifest.
    val dir = tempDir("layout-recluster")
    val keys = Seq("l_partkey", "l_suppkey")
    // six arrival-ordered "batches", each spanning the full key range
    (0 until 6).foreach { b =>
      src.filter(col("l_orderkey") % 6 === b).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val mBefore = Layout.buildManifest(spark, dir, keys)
    val bounds = Seq(("l_partkey", 0L, 25L))
    val filesBefore = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    val keptBefore = Layout.scanPruned(spark, dir, mBefore, bounds).inputFiles.length
    // batch-ordered layout: the probe keeps (nearly) every file
    assert(keptBefore >= filesBefore - 1,
      s"fixture unexpectedly clustered: $keptBefore/$filesBefore")

    val (receipt, mAfter) = Layout.reclusterWithManifest(spark, dir, keys,
      numFiles = 16, buckets = 256)
    assert(receipt.filesBefore === filesBefore && receipt.rows === src.count())
    // manifest is frozen + path-remapped: serves scans with no rebuild
    val pruned = Layout.scanPruned(spark, dir, mAfter, bounds)
    val expect = spark.read.parquet(dir)
      .filter(col("l_partkey") >= 0 && col("l_partkey") <= 25)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
      "recluster changed the data")
    val keptAfter = pruned.inputFiles.length
    info(s"files kept for $bounds: before $keptBefore/$filesBefore, " +
      s"after $keptAfter/${receipt.filesAfter}")
    // THE box-tightness receipt: the kept ratio must at least halve
    assert(keptAfter.toDouble / receipt.filesAfter * 2 <=
      keptBefore.toDouble / filesBefore,
      s"recluster did not restore skipping: $keptAfter/${receipt.filesAfter} " +
        s"vs $keptBefore/$filesBefore")
    // name order is clustering order again: a follow-up compaction keeps it
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).forall(_.matches("part-\\d{5}-c0001\\.parquet")))
  }

  test("recluster refuses an in-flight streaming batch and recovers its own crash states") {
    val dir = tempDir("layout-rc-guard")
    src.limit(200).coalesce(1).write.mode("overwrite").parquet(dir)
    // in-flight micro-batch staging dir -> loud refusal
    new java.io.File(dir, "_staging_b000000007").mkdirs()
    val e = intercept[IllegalArgumentException](
      Layout.reclusterWithManifest(spark, dir, Seq("l_partkey", "l_suppkey")))
    assert(e.getMessage.contains("_staging_b"))
    assert(new java.io.File(dir, "_staging_b000000007").delete())

    val parent = new java.io.File(dir).getParent
    val name = new java.io.File(dir).getName
    val oldDir = new java.io.File(parent, name + "._graft_recluster_old")
    val newDir = new java.io.File(parent, name + "._graft_recluster_new")
    val n0 = spark.read.parquet(dir).count()

    // crash between the two renames: dir gone, old + new present -> roll
    // forward (new content wins)
    assert(new java.io.File(dir).renameTo(oldDir))
    src.limit(200).coalesce(1).write.mode("overwrite").parquet(newDir.getPath)
    Layout.recoverInterruptedRecluster(spark, dir)
    assert(new java.io.File(dir).exists() && !oldDir.exists() && !newDir.exists())
    spark.catalog.refreshByPath(dir)
    assert(spark.read.parquet(dir).count() === n0)

    // crash before the swap: only the new sibling exists -> rolled back
    src.limit(50).coalesce(1).write.mode("overwrite").parquet(newDir.getPath)
    Layout.recoverInterruptedRecluster(spark, dir)
    assert(!newDir.exists())
    spark.catalog.refreshByPath(dir)
    assert(spark.read.parquet(dir).count() === n0, "rollback touched the original")
  }

  test("equi-depth z-order refuses an all-null key column loudly") {
    val s2 = spark
    import s2.implicits._
    val df = (1 to 100).map(i => (i.toLong, Option.empty[Long])).toDF("x", "y")
    val dir = tempDir("layout-ednull")
    val e = intercept[IllegalArgumentException](
      Layout.writeZOrderedEquiDepth(df, Seq("x", "y"), dir, numFiles = 4, buckets = 4))
    assert(e.getMessage.contains("'y'") && e.getMessage.contains("non-null"))
  }

  test("equi-depth z-order survives sparse clustered domains where equal-width collapses") {
    // The round-12 manifestmany finding, synthesized: keys live in 8
    // correlated narrow clusters (width 5,000) spread over ~10^9 — each
    // cluster is NARROWER than the equal-width 16-bit bucket (~14,000),
    // so writeZOrderedN collapses every cluster to 1-2 scaled values and
    // the whole layout to a handful of z-codes: the requested file count
    // cannot materialize and no cut can subdivide a cluster. Equi-depth
    // maps keys through quantile (rank) space, where each cluster owns
    // ~buckets/8 values — full file count, and probes INSIDE a cluster
    // skip again.
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(11)
    def xBase(c: Int) = c * 130000000L + 1000000L
    def yBase(c: Int) = c * 120000000L + 3000000L
    val rows = Seq.fill(40000) {
      val c = rnd.nextInt(8)
      (xBase(c) + rnd.nextInt(5000), yBase(c) + rnd.nextInt(5000), rnd.nextInt(100).toLong)
    }
    val df = rows.toDF("x", "y", "v")
    val ewDir = tempDir("layout-ew")
    val edDir = tempDir("layout-ed")
    Layout.writeZOrdered(df, "x", "y", ewDir, numFiles = 256)
    Layout.writeZOrderedEquiDepth(df, Seq("x", "y"), edDir, numFiles = 256)
    def nFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val (few, fed) = (nFiles(ewDir), nFiles(edDir))
    info(s"files: equal-width=$few equi-depth=$fed (256 requested)")
    assert(few <= 24, s"fixture no longer collapses equal-width ($few files) — rebuild it sparser")
    assert(fed >= 200, s"equi-depth failed to materialize the file count: $fed")
    assert(spark.read.parquet(edDir).count() === 40000L, "rows dropped")

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // probe INSIDE one cluster on BOTH clustered dims (12.5% of
      // each — ~1.5% of the cluster's mass). Equal-width collapsed the whole
      // cluster to 1-2 z-codes; a range partition cannot split a code
      // across files, so no matter how many files are REQUESTED it
      // reads the cluster's whole code-file. Equi-depth holds ~32 rank
      // values per dim inside the cluster AND can materialize the full
      // file budget (~32 files/cluster = 5 within-cluster cut bits),
      // so the Morton cuts subdivide the cluster in both dimensions.
      // This is the measured content of the collapse: the cap is not
      // cosmetic — it is lost resolution a bigger file budget cannot
      // buy back.
      val pred = s"x >= ${xBase(3)} AND x <= ${xBase(3) + 625} AND " +
        s"y >= ${yBase(3)} AND y <= ${yBase(3) + 625}"
      def probe(dir: String): (Long, Double) = {
        val q = spark.read.parquet(dir).filter(expr(pred))
          .agg(sum(col("v").cast("double")).as("s"))
        (rowsScanned(q), q.head().getDouble(0))
      }
      val (ewRows, ewSum) = probe(ewDir)
      val (edRows, edSum) = probe(edDir)
      assert(math.abs(ewSum - edSum) < 1e-6, "layouts disagree")
      info(f"in-cluster probe scan rows: equal-width=$ewRows equi-depth=$edRows (${ewRows.toDouble / edRows}%.1fx)")
      assert(edRows * 2 <= ewRows,
        s"equi-depth not subdividing the cluster: ed=$edRows ew=$ewRows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
