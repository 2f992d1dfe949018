package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{FsIo, ManifestedParquetSink}

/** Persisted trained IVF-PQ index — FAISS's train / add / search
  * lifecycle as lakehouse tables (round-15 verdict task 1).
  *
  * The in-query sibling (e_knn_ivfpq_trained) re-trains its coarse
  * centroids and residual codebook on EVERY invocation — ~2 extra
  * corpus scans per query, the right shape for a one-shot ad-hoc query
  * but not for production ANN, where an index is built once (or
  * refreshed on a schedule) and queried many times. This object
  * materializes [[EmbeddingOps.ivfPqTrainParts]]'s output as parquet:
  *
  * ```
  *   <root>/g<N>/centroids/          16 rows: cid, ce, cn
  *   <root>/g<N>/codebook/          128 rows: j, c, cv
  *   <root>/g<N>/rotation/           64 rows: i, m, u — the frozen OPQ
  *                                   model (opq builds only): FAISS's
  *                                   chained VectorTransform persisted
  *                                   beside the quantizers it trained
  *   <root>/g<N>/coded/              the coded corpus (vec_id, cell, codes),
  *                                   a [[ManifestedParquetSink]] data dir
  *   <root>/g<N>/coded_manifest/     its versioned manifests (cell min/max
  *                                   per file -> probe-time file skipping)
  *   <root>/g<N>/fingerprint         source-corpus fingerprint
  *   <root>/g<N>/_graft_ok           create-once commit marker
  * ```
  *
  * Generations (`g1, g2, ...`) are the RETRAIN axis: a rebuild publishes
  * a whole new immutable generation under the manifested-sink commit
  * protocol (marker lands last; readers resolve the highest committed
  * generation; older generations are GC'd past a retention of 2), so a
  * reader racing a rebuild sees either the old complete index or the new
  * one, never a half-written mix of new codebook and old codes. WITHIN a
  * generation, [[addVectors]] is the ADD axis: new vectors are coded
  * with the frozen model (assignment + encode are the training
  * trajectory's own expressions, so an added vector gets byte-identical
  * codes to what a full rebuild would give it) and appended as the
  * sink's next batch — which buys the sink's whole maintenance story for
  * free: versioned manifests, scanAsOf time travel to any retained
  * pre-add snapshot, recluster-by-cell when add-batch debris accumulates.
  *
  * Scale shape (100 TB): the model side is 144 tiny rows; build cost is
  * the training scans the sibling pays per query, paid ONCE; query cost
  * is ONE manifest-pruned scan of the coded table (8 bytes/vector) — the
  * probe collects nothing and shuffles nothing (cell-equi broadcast
  * join). The coded table's manifest carries per-file cell bounds, so a
  * low-nprobe probe on a recluster-maintained index reads only the files
  * its probed cells intersect.
  *
  * Staleness: the fingerprint (row count + order-independent xxhash64 of
  * (vec_id, embedding), + a format version bumped on any trajectory
  * change) is checked by [[ensure]]; a changed source corpus or stale
  * format rebuilds. Within a session the hash is computed once per stamp
  * of the embeddings file, so a warm [[ensure]] costs a stat. Builds are
  * serialized per root within the JVM (queries may run in threads);
  * cross-process concurrent builds are out of contract, like every
  * single-writer path here.
  */
object IvfPqIndex {

  /** Bump on ANY change to the training trajectory or on-disk layout:
    * persisted indexes from older code must not satisfy [[ensure]].
    * v2: generations carry `baseline_resid` (the drift monitor's
    * build-time reference). v3: generations carry a raw ingest LEDGER
    * (`raw/` — the WAL [[handoff]] re-codes across a generation swap)
    * and a TOMBSTONE table (`tombs/` — [[deleteVectors]]); a v2
    * generation with adds has no ledger, so reusing it would lose them
    * silently on the first handoff — the bump forces the rebuild.
    * v4: coded + ledger rows carry the `attr` METADATA column
    * ([[queryFiltered]] — filtered ANN needs the predicate column
    * inline in the probe scan); a v3 generation has no attr, so a
    * filtered query against it would fail analysis. */
  val FormatVersion = 4

  /** Committed generations GC'd past this many (newest kept). 2, not 1:
    * a reader that resolved just before a rebuild is still scanning the
    * previous generation's files. */
  val GenerationRetention = 2

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    buildLocks.computeIfAbsent(root, _ => new Object)

  /** Roots whose build lock THIS thread already holds — [[withBuildLock]]
    * must be reentrant (handoff holds it across buildLocked +
    * ingestOffset, which each take it too): the JVM monitor is
    * reentrant by nature, but re-opening the held FileChannel lock from
    * the same JVM throws OverlappingFileLockException. */
  private val lockHeld = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]()
  }

  /** Serialize index builds on `root` across THREADS (the JVM map —
    * queries may run concurrently on one session) AND across PROCESSES
    * (an OS file lock on `root/.build_lock` — the registered query
    * derives a machine-global /tmp root from the fixture dir, so two
    * JVMs, e.g. a bench and a verify replica, can race the same root;
    * without the lock both would compute generation 1 and interleave
    * renames into one corrupt-but-committed artifact). The JVM monitor
    * wraps the file lock because FileChannel locks are held per-JVM
    * and re-acquiring one from a second thread throws. Non-local roots
    * (no NIO filesystem path) fall back to the JVM lock alone — the
    * documented single-writer-per-root contract covers them. */
  private def withBuildLock[A](root: String)(f: => A): A =
    if (lockHeld.get.contains(root)) f // reentrant: an outer frame holds it
    else lockFor(root).synchronized {
      val lockCh =
        try {
          val p = java.nio.file.Paths.get(root)
          java.nio.file.Files.createDirectories(p)
          Some(java.nio.channels.FileChannel.open(p.resolve(".build_lock"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE))
        } catch {
          // ONLY the documented non-local-root case degrades to JVM-only
          // locking: a root that is not an NIO path at all (hdfs://, s3a://
          // — their single-writer contract covers cross-process). Anything
          // else (a transient IO error on a LOCAL root) must not silently
          // reintroduce the cross-process interleaved-build race the lock
          // exists to close — rethrow it (ADVICE r15).
          case _: java.nio.file.InvalidPathException => None
          case _: UnsupportedOperationException => None
          case _: java.nio.file.FileSystemNotFoundException => None
        }
      lockHeld.get.add(root)
      try lockCh match {
        case Some(ch) =>
          try { val l = ch.lock(); try f finally l.release() }
          finally ch.close()
        case None => f
      } finally lockHeld.get.remove(root)
    }

  /** Deterministic default root per source dir (the LayoutQueries
    * workDir convention) — under java.io.tmpdir, never in the read-only
    * fixture tree. */
  def defaultRoot(dir: String): String =
    sys.props("java.io.tmpdir").stripSuffix("/") +
      "/graft_ivfpq_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Index FLAVOR: which rotation (if any) the generation's frozen
    * model chain applies, and WHERE in the trajectory. Three flavors,
    * three trajectories, three separate fingerprint tags — an ensure of
    * one flavor pointed at another flavor's root rebuilds rather than
    * serving codes from the wrong trajectory:
    *  - [[Plain]]: no rotation (e_knn_ivfpq_trained's trajectory);
    *  - [[Opq]]: Householder trained on the RAW corpus, applied BEFORE
    *    coarse assignment (FAISS "OPQ,IVF,PQ"; e_knn_opq_indexed);
    *  - [[OpqResidual]]: Householder trained on the pooled RESIDUALS,
    *    applied AFTER coarse assignment (FAISS OPQ-on-residual;
    *    e_knn_opqres_indexed) — the round-17 recall lanes' best
    *    measured configuration on clustered geometry, with the raw
    *    partition untouched by construction.
    * The generation records its flavor in a `flavor` marker file;
    * pre-round-17 generations lack it, and the reader falls back to
    * rotation-file presence (which could only mean [[Opq]] then). */
  sealed trait Flavor { def tag: String; def name: String }
  case object Plain extends Flavor { val tag = ""; val name = "plain" }
  case object Opq extends Flavor { val tag = "opq:"; val name = "opq" }
  case object OpqResidual extends Flavor { val tag = "opqres:"; val name = "opqres" }
  /** AUTO flavor (round-18 verdict task 4): resolve to a concrete flavor
    * at calibrate time via [[chooseFlavor]] — never persisted (the
    * generation records what Auto RESOLVED to, and the fingerprint is
    * computed under the resolved flavor, so an Auto ensure against an
    * existing generation of the same resolution reuses it). */
  case object Auto extends Flavor { val tag = "auto:"; val name = "auto" }

  /** Auto's calibration sample cap: keep the trajectory's model/query
    * rows (vec_id < 42 — fixed by the family contract) plus the
    * hash-smallest others up to this many vectors. Bounded by
    * construction, so Auto's double-training cost never scales with the
    * corpus. */
  val AutoSampleCap = 4096

  /** Resolve Auto by MEASUREMENT (round-18 verdict task 4): train BOTH
    * candidate flavors on a bounded deterministic sample and keep the
    * one with higher recall@3 against the sample's exact-L2 truth —
    * FAISS-autotune's method applied to the flavor axis.
    *
    * Why not a spectrum heuristic: the round-18 calibration MEASURED the
    * residual-spectrum route first (dominance of the pooled residuals'
    * power-iterated direction x its max subspace alignment) and it
    * cannot reproduce the round-17 lane table — clustered (where the
    * lanes crowned OpqResidual at 0.5333) shows the LOWEST residual
    * dominance of any fixture (0.022 — exact seeds leave near-isotropic
    * residuals), while misaligned/anisotropic (where rotation HARMS)
    * show 0.065-0.068: the separation the rule needs runs backwards.
    * Only spanning (0.993) is spectrum-detectable. Numbers in
    * BASELINE.md "Flavor.Auto"; IvfPqAutoFlavorSpec pins the
    * measurement route's agreement with every lane winner instead.
    *
    * [[Opq]] (pre-coarse) is never auto-chosen: the lanes showed
    * OpqResidual beats-or-ties it on 5 of 6 geometries, and the
    * exception (anisotropic) wants Plain anyway — pre-coarse rotation
    * additionally risks the partition itself (the round-16 misaligned
    * harm), a bet Auto should not place unattended. Ties (including
    * "both recall 0") resolve to Plain — never pay for a rotation that
    * bought nothing measurable. Plain when the corpus lacks model rows
    * (the build will return None anyway). */
  def chooseFlavor(s: SparkSession, dir: String,
      sampleCap: Int = AutoSampleCap): Flavor = {
    require(sampleCap >= 64, s"sampleCap $sampleCap cannot hold the model rows")
    val base = graft.Tables.t(s, dir, "embeddings")
    val n = base.count()
    if (n == 0) return Plain
    val sample =
      if (n <= sampleCap) base
      else base.filter(col("vec_id") < 42).unionByName(
        base.filter(col("vec_id") >= 42)
          .withColumn("h", xxhash64(col("vec_id")))
          .orderBy(col("h"), col("vec_id")).limit(sampleCap - 42).drop("h"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_auto_flavor").toString
    try {
      sample.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      // exact-L2 truth on the sample's query rows (the family's
      // vec_id < 10 convention), self excluded, vec_id tiebreak
      val prepped = graft.Tables.t(s, tmp, "embeddings")
        .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
      val q = prepped.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qe"))
      val truth = prepped.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("d2", graft.functions.GraftFunctions.vecL2Sq(col("qe"), col("ed")))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      if (truth.isEmpty) return Plain
      def recall(df: DataFrame): Double = {
        val got = df.select(col("qid"), col("vec_id")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        truth.map { case (qid, t) =>
          got.get(qid).fold(0.0)(g => (g & t).size.toDouble / t.size)
        }.sum / truth.size
      }
      val plainR = recall(EmbeddingOps.ivfPqTrainedResidual(s, tmp, nprobe = 2, k = 3))
      val resR = recall(EmbeddingOps.opqResidualKnn(s, tmp, nprobe = 2, k = 3))
      if (resR > plainR) OpqResidual else Plain
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      FsIo.fs(p).delete(p, true); ()
    }
  }

  private def resolveFlavor(s: SparkSession, dir: String, f: Flavor): Flavor =
    if (f == Auto) chooseFlavor(s, dir) else f

  /** Source-corpus fingerprint: count + order-independent content hash.
    * ONE narrow aggregation over (vec_id, embedding) — cheap next to
    * a build, and content-sensitive enough that a regenerated fixture
    * with equal row count still misses. It is persisted with each
    * generation and read across sessions and copied fixtures, so it
    * stays content-derived; within a session it is computed once per
    * stamp of the embeddings file ([[graft.CorpusCache.stamped]]). */
  private def fingerprint(s: SparkSession, dir: String,
      flavor: Flavor = Plain): String = {
    // The FLAVOR is part of the fingerprint: an ensure of one flavor
    // pointed at the other flavor's root sees a mismatch and rebuilds
    // rather than serving codes from the wrong trajectory.
    val content = graft.CorpusCache.stamped(s, graft.Tables.path(dir, "embeddings"),
        "ivfpq.fingerprint") {
      // DECIMAL(38,0) sum of the row hashes: order-independent AND
      // multiplicity-sensitive. bit_xor would self-cancel any row with
      // even multiplicity (swap duplicate pair {A,A} for {B,B} and the
      // xor is unchanged — a silent stale-index reuse); a BIGINT sum of
      // ~2^63-magnitude hashes throws under ANSI arithmetic. 38 digits
      // hold ~10^19 rows of headroom above the hash magnitude.
      // The METADATA column (when the corpus has one) is hashed too:
      // [[queryFiltered]]'s answers depend on it, so a corpus whose
      // vectors kept their bytes but re-labeled must rebuild. The
      // precedence MATCHES [[withAttr]] (attr preferred over label) —
      // hashing label while serving attr would fingerprint-match a
      // corpus whose attr values drifted and serve stale filtered
      // answers from the reused generation.
      val t = graft.Tables.t(s, dir, "embeddings")
      val metaCol =
        if (t.columns.contains("attr")) Some(col("attr").cast("long"))
        else if (t.columns.contains("label")) Some(col("label").cast("long"))
        else None
      val hashCols = Seq(col("vec_id"), col("embedding")) ++
        metaCol.map(c => coalesce(c, lit(-1L)))
      val r = t
        .agg(count(lit(1)).as("n"),
          coalesce(sum(xxhash64(hashCols: _*)
            .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
        .head()
      s"n=${r.getLong(0)}:h=${r.getDecimal(1)}"
    }
    s"v$FormatVersion:${flavor.tag}$content"
  }

  /** Normalize a frame's metadata column to a nullable int `attr`:
    * `attr` kept as-is, else `label` (the fixture corpus' metadata
    * column) cast, else null — every coded/ledger row carries the
    * column so the filtered probe's predicate always resolves. */
  private def withAttr(df: DataFrame): DataFrame =
    if (df.columns.contains("attr")) df.withColumn("attr", col("attr").cast("int"))
    else if (df.columns.contains("label"))
      df.withColumn("attr", col("label").cast("int"))
    else df.withColumn("attr", lit(null).cast("int"))

  private def genPath(root: String, g: Long) = s"$root/g$g"
  private val genRe = "^g(\\d+)$".r

  private def listGens(root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = FsIo.fs(p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap(s => s.getPath.getName match {
      case genRe(n) => Some(n.toLong)
      case _ => None
    })
  }

  private def isCommitted(root: String, g: Long): Boolean =
    FsIo.fs(new org.apache.hadoop.fs.Path(root))
      .exists(new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/_graft_ok"))

  /** The highest COMMITTED generation, if any — same marker protocol as
    * the manifested sink's versioned publish. */
  def currentGeneration(root: String): Option[Long] =
    listGens(root).filter(isCommitted(root, _)).sorted.lastOption

  /** The coded-corpus sink of one generation — the index's big table
    * lives behind the manifested sink so adds/maintenance/time travel
    * are the sink's proven machinery, not new code. keyCols =
    * (cell, vec_id): per-file CELL bounds are what probe-time pruning
    * uses; vec_id bounds ride along (the z-order maintenance writer
    * wants >= 2 keys, and id-ranged maintenance scans get skipping for
    * free). */
  def codedSink(root: String, g: Long,
      autoReclusterAt: Option[Int] = None,
      reclusterFiles: Int = 8,
      reclusterBuckets: Int = 4096): ManifestedParquetSink =
    new ManifestedParquetSink(
      dataDir = s"${genPath(root, g)}/coded",
      manifestDir = s"${genPath(root, g)}/coded_manifest",
      keyCols = Seq("cell", "vec_id"),
      autoReclusterAt = autoReclusterAt,
      reclusterFiles = reclusterFiles,
      reclusterBuckets = reclusterBuckets)

  /** The generation's raw ingest LEDGER: every vector that entered the
    * index through [[addVectors]]/[[startIngest]] — i.e. NOT through a
    * corpus snapshot — as (vec_id, cell, embedding array<double>),
    * batch-id-aligned with the coded sink. This is the index's WAL
    * between corpus refreshes: [[handoff]] re-codes its tail (vectors
    * absent from the refreshed corpus) into the next generation, which
    * is what makes a generation swap loss-free. Cost shape at 100 TB:
    * 512 B/vector for NOT-yet-graduated vectors only (the build's corpus
    * batch never ledgers — those vectors live in the corpus), GC'd with
    * the generation. */
  private[graft] def rawSink(root: String, g: Long): ManifestedParquetSink =
    new ManifestedParquetSink(
      dataDir = s"${genPath(root, g)}/raw",
      manifestDir = s"${genPath(root, g)}/raw_manifest",
      keyCols = Seq("vec_id", "cell"))

  /** The generation's TOMBSTONE table ([[deleteVectors]]): (cell, vec_id)
    * rows, SEPARATE from the coded table so the hot probe scan stays a
    * single pass over codes — the query anti-joins the (small,
    * maintenance-bounded) tombstone side instead of re-reading the coded
    * files to split live rows from markers. Keyed (cell, vec_id) like the
    * coded table, so a cell-pruned probe that can see a data file can
    * always see its tombstones. */
  private[graft] def tombSink(root: String, g: Long): ManifestedParquetSink =
    new ManifestedParquetSink(
      dataDir = s"${genPath(root, g)}/tombs",
      manifestDir = s"${genPath(root, g)}/tombs_manifest",
      keyCols = Seq("cell", "vec_id"))

  /** Tombstoned vec_ids intersecting the probed cell ranges (None = the
    * generation has no tombstones at all — callers then skip the
    * anti-join entirely, keeping the probe plan identical to the
    * delete-free case). The existence check is one bounded manifest
    * collect (rows column), never a data read. */
  private def tombstoneIds(s: SparkSession, root: String, g: Long,
      cellSets: Option[Seq[Seq[(String, Long, Long)]]]): Option[DataFrame] = {
    val ts = tombSink(root, g)
    ts.currentVersion().flatMap { _ =>
      val n = ts.manifest(s).agg(coalesce(sum(col("rows")), lit(0L)))
        .head().getLong(0)
      if (n == 0L) None
      else Some((cellSets match {
        case Some(sets) => ts.scanAny(s, sets)
        case None => ts.scan(s, Seq(("vec_id", Long.MinValue, Long.MaxValue)))
      }).select(col("vec_id")))
    }
  }

  /** The generation's full raw ledger, None when absent OR empty (the
    * rows-sum check is a bounded manifest collect; scanning an
    * empty-but-manifested dir would fail schema inference). */
  private def ledgerScan(s: SparkSession, root: String, g: Long): Option[DataFrame] = {
    val rs = rawSink(root, g)
    rs.currentVersion().flatMap { _ =>
      val n = rs.manifest(s).agg(coalesce(sum(col("rows")), lit(0L)))
        .head().getLong(0)
      if (n == 0L) None
      else Some(rs.scan(s, Seq(("vec_id", Long.MinValue, Long.MaxValue))))
    }
  }

  /** True when the generation is no longer a pure function of its source
    * corpus: any coded batch beyond the build's batch 0 (adds/ingest),
    * any tombstone, or a past tombstone PURGE (the `_purged` flag — the
    * purge rewrite removes the tombstones that would otherwise witness
    * the mutation). [[ensure]]'s registered-query path treats a mutated
    * generation as stale (ADVICE r15): the DuckDB oracle recomputes from
    * the corpus alone, so a mutated artifact would silently diverge. */
  private[graft] def isMutated(root: String, g: Long): Boolean = {
    val dataP = new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/coded")
    val fs = FsIo.fs(dataP)
    val addMarkers = fs.exists(dataP) && fs.listStatus(dataP).exists { st =>
      val n = st.getPath.getName
      n.startsWith("_graft_batch_") && n != "_graft_batch_000000000"
    }
    addMarkers ||
      FsIo.readString(s"${genPath(root, g)}/_purged").isDefined ||
      tombSink(root, g).currentVersion().isDefined
  }

  /** TRAIN + ADD(corpus): build a brand-new committed generation from
    * the corpus at `dir`. None when the corpus lacks the model rows
    * (the sibling query's empty contract). Publish order: model tables,
    * coded batch 0, fingerprint, THEN the commit marker — a crash
    * anywhere before the marker leaves the previous generation live.
    * `carry` is [[handoff]]'s tail — raw (vec_id, embedding) rows coded
    * with the NEW generation's frozen model and landed (coded + ledger)
    * BEFORE the commit marker, so a crash mid-handoff can never publish
    * a generation that silently dropped them. */
  def build(s: SparkSession, dir: String, root: String,
      flavor: Flavor = Plain): Option[Long] = {
    val f = resolveFlavor(s, dir, flavor)
    withBuildLock(root) { buildLocked(s, dir, root, flavor = f) }
  }

  private def buildLocked(s: SparkSession, dir: String, root: String,
      carry: Option[DataFrame] = None, flavor: Flavor = Plain): Option[Long] =
    {
      require(flavor != Auto, "buildLocked needs a resolved flavor")
      // flavor selection: the OPQ builds train a rotation beside the
      // centroids + codebook and persist all three (pre-coarse on the
      // raw frame, or post-coarse on the residuals); the plain build is
      // byte-identical to before (rot = None everywhere)
      val trained: Option[(Option[EmbeddingOps.OpqModel], EmbeddingOps.IvfPqParts)] =
        flavor match {
          case Plain => EmbeddingOps.ivfPqTrainParts(s, dir).map(p => (None, p))
          case Opq => EmbeddingOps.opqIvfPqTrainParts(s, dir)
            .map { case (om, p) => (Some(om), p) }
          case OpqResidual => EmbeddingOps.opqResidualTrainParts(s, dir)
            .map { case (om, p) => (Some(om), p) }
          case Auto => throw new IllegalStateException(
            "unreachable: buildLocked's require resolved Auto already")
        }
      trained.map { case (rot, parts) =>
        val next = (listGens(root) :+ 0L).max + 1
        val g = genPath(root, next)
        parts.cents.coalesce(1).write.mode("overwrite").parquet(s"$g/centroids")
        val cbRows = for {
          j <- parts.cb.indices; c <- parts.cb(j).indices
        } yield (j, c, parts.cb(j)(c))
        import s.implicits._
        cbRows.toDF("j", "c", "cv").coalesce(1)
          .write.mode("overwrite").parquet(s"$g/codebook")
        rot.foreach { om =>
          om.mean.indices.map(i => (i, om.mean(i), om.u(i)))
            .toDF("i", "m", "u").coalesce(1)
            .write.mode("overwrite").parquet(s"$g/rotation")
        }
        // v4: the corpus batch carries its metadata column — one narrow
        // co-scaling equi join at BUILD time (the training pipeline
        // itself stays untouched; codes are byte-identical to v3)
        val corpusAttr = withAttr(graft.Tables.t(s, dir, "embeddings"))
          .select(col("vec_id"), col("attr"))
        codedSink(root, next).process(
          parts.coded.join(corpusAttr, Seq("vec_id"), "left")
            .select(col("vec_id"), col("cell"), col("codes"), col("attr")),
          batchId = 0L)
        // handoff tail: code with THIS generation's frozen model and land
        // coded + ledger rows pre-commit (see scaladoc). The tail stays
        // in the new ledger because it is still in no corpus snapshot —
        // a second handoff must carry it again.
        FsIo.writeStringAtomic(s"$g/flavor", flavor.name)
        carry.foreach { c =>
          val assigned = codeWithModel0(c, parts.cents, keepEd = true,
            rot = rot, flavor = flavor)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val slot = ingestOffset(root, next, "graft-handoff-carry")
            landCodedAndRaw(assigned, parts.cb,
              codedSink(root, next), rawSink(root, next), slot)
          } finally { assigned.unpersist(); () }
        }
        // build-time drift baseline: the corpus' mean residual norm
        // against the frozen coarse model (6dp), read off the PINNED
        // assignment frame training already materialized — one tiny
        // agg, never a second corpus join. [[startIngest]]'s drift
        // monitor prices arriving batches against it.
        val baseline = parts.assigned
          .agg(round(avg(sqrt(graft.functions.GraftFunctions.vecDot(col("rv"), col("rv")))), 6))
          .head().getDouble(0)
        FsIo.writeStringAtomic(s"$g/baseline_resid", baseline.toString)
        FsIo.writeStringAtomic(s"$g/fingerprint", fingerprint(s, dir, flavor))
        FsIo.writeStringAtomic(s"$g/_graft_ok", next.toString)
        // GC: committed generations past retention + uncommitted debris
        // older than the one just published (a crashed build's leftovers)
        val all = listGens(root)
        val keep = all.filter(isCommitted(root, _)).sorted
          .takeRight(GenerationRetention).toSet
        val fs = FsIo.fs(new org.apache.hadoop.fs.Path(root))
        all.filterNot(keep).foreach(g0 => fs.delete(
          new org.apache.hadoop.fs.Path(genPath(root, g0)), true))
        next
      }
    }

  /** Build-once gate: reuse the current committed generation when its
    * fingerprint still matches the source corpus, else (re)build.
    * None = the corpus cannot carry an index (too few model rows).
    * The fingerprint check runs INSIDE the build lock (double-checked):
    * a second process that blocked on a concurrent build re-reads the
    * now-committed generation and reuses it instead of building again.
    *
    * `pristineOnly` (the REGISTERED query passes true, ADVICE r15): also
    * rebuild when the generation was MUTATED by adds/ingest/deletes —
    * the corpus fingerprint cannot see those, but a mutated artifact is
    * no longer the pure f(corpus) the cross-engine oracle recomputes.
    * The rebuild supersedes the mutated generation, so any ingest stream
    * bound to it fails loudly rather than feeding an artifact the
    * registered path just abandoned. Production lifecycles that WANT
    * adds to survive corpus refreshes use [[handoff]], not this gate. */
  def ensure(s: SparkSession, dir: String, root: String,
      pristineOnly: Boolean = false, flavor: Flavor = Plain): Option[Long] = {
    val f = resolveFlavor(s, dir, flavor)
    val fp = fingerprint(s, dir, f)
    def fresh(): Option[Long] = currentGeneration(root).filter(g =>
      FsIo.readString(s"${genPath(root, g)}/fingerprint").contains(fp) &&
        !(pristineOnly && isMutated(root, g)))
    fresh().orElse(withBuildLock(root) {
      fresh().orElse(buildLocked(s, dir, root, flavor = f))
    })
  }

  private def readCodebook(s: SparkSession, root: String, g: Long): Seq[Seq[Seq[Double]]] = {
    val rows = s.read.parquet(s"${genPath(root, g)}/codebook").collect()
    Seq.tabulate(8) { j =>
      Seq.tabulate(16) { c =>
        rows.find(r => r.getInt(0) == j && r.getInt(1) == c)
          .getOrElse(throw new IllegalStateException(
            s"IvfPqIndex: codebook at $root g$g is missing (j=$j, c=$c)"))
          .getSeq[Double](2).toSeq
      }
    }
  }

  private def centroids(s: SparkSession, root: String, g: Long): DataFrame =
    s.read.parquet(s"${genPath(root, g)}/centroids")

  /** The generation's FROZEN OPQ rotation model, if it carries one —
    * present exactly on generations built with `opq = true`. Every
    * downstream path (add, ingest, handoff carry, query) loads it where
    * it loads the centroids, so a rotated generation can never code or
    * probe unrotated vectors. */
  /** The generation's recorded flavor; pre-round-17 generations have no
    * `flavor` file — rotation presence could only mean [[Opq]] then. */
  private def readFlavor(root: String, g: Long): Flavor =
    FsIo.readString(s"${genPath(root, g)}/flavor") match {
      case Some("opqres") => OpqResidual
      case Some("opq") => Opq
      case Some("plain") => Plain
      // ADVICE r17: an unrecognized marker (corrupt file, future flavor)
      // must fail loudly — mapping it to Plain would probe a rotated
      // generation with unrotated query arithmetic and silently return
      // garbage ranks.
      case Some(other) => throw new IllegalStateException(
        s"IvfPqIndex: unknown flavor marker '$other' at $root g$g — " +
          "generation was written by an incompatible version")
      case None =>
        val p = new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/rotation")
        if (FsIo.fs(p).exists(p)) Opq else Plain
    }

  private def readRotation(s: SparkSession, root: String,
      g: Long): Option[EmbeddingOps.OpqModel] = {
    val p = new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/rotation")
    if (!FsIo.fs(p).exists(p)) None
    else {
      val rows = s.read.parquet(p.toString).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
      Some(EmbeddingOps.OpqModel(rows.map(_._2).toSeq, rows.map(_._3).toSeq))
    }
  }

  /** ADD: code `vecs` (vec_id, embedding) with the current generation's
    * FROZEN model and append them as the coded sink's next batch, plus
    * the raw ledger row [[handoff]] needs to carry them across a
    * generation swap. Assignment + encode are
    * [[EmbeddingOps.ivfAssign]] + [[graft.functions.GraftFunctions.pqCodes]]
    * — the training trajectory's own expressions — so an added vector's
    * row is byte-identical to what a full rebuild would code it as.
    * `batchId` is the caller's ingest batch (the sink's idempotent-replay
    * key). Runs under the build lock so an add can never interleave with
    * a handoff's ledger snapshot. vec_ids must be unique index-wide (the
    * corpus contract); re-adding a [[deleteVectors]]-tombstoned id does
    * NOT resurrect it within this generation. */
  def addVectors(s: SparkSession, root: String, vecs: DataFrame,
      batchId: Long): Unit = withBuildLock(root) {
    val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
      s"IvfPqIndex: no committed generation under $root — build first"))
    val assigned = codeWithModel0(vecs, centroids(s, root, g), keepEd = true,
      rot = readRotation(s, root, g), flavor = readFlavor(root, g))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try landCodedAndRaw(assigned, readCodebook(s, root, g),
      codedSink(root, g), rawSink(root, g), batchId)
    finally { assigned.unpersist(); () }
  }

  /** DELETE ([[https://github.com/facebookresearch/faiss]] remove_ids
    * analog): tombstone `ids` in the current generation. A tombstone is
    * a (cell, vec_id) row in the generation's SEPARATE tombstone table —
    * the cell comes from the live data row itself, so any cell-pruned
    * probe that can reach the data row can also reach its exclusion.
    * Query-side the probe anti-joins tombstoned ids out; [[scanAsOf]] on
    * the coded sink still sees pre-delete snapshots (the data row is
    * untouched); [[purgeDeleted]] later drops the bytes physically.
    * Returns the number of ids tombstoned (ids with no live row are
    * no-ops). Deletes are INDEX-level: a rebuild/handoff from a corpus
    * that still contains a deleted id resurrects it — remove it from
    * the corpus to delete durably. Idempotent per `batchId` (the sink's
    * replay key, same namespace discipline as [[addVectors]]). */
  def deleteVectors(s: SparkSession, root: String, ids: Seq[Long],
      batchId: Long): Long = withBuildLock(root) {
    require(ids.nonEmpty, "IvfPqIndex.deleteVectors: no ids given")
    val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
      s"IvfPqIndex: no committed generation under $root — build first"))
    // locate each id's cell from its data row: one vec_id-pruned scan
    // (the coded manifest boxes BOTH key columns), distinct guards the
    // out-of-contract duplicate-id case
    val targets = codedSink(root, g)
      .scan(s, Seq(("vec_id", ids.min, ids.max)))
      .filter(col("vec_id").isInCollection(ids))
      .select(col("cell"), col("vec_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = targets.count()
      if (n > 0) tombSink(root, g).process(targets, batchId)
      n
    } finally { targets.unpersist(); () }
  }

  /** Land one assigned batch (vec_id, cell, rv, ed) into a generation:
    * PQ-coded rows into the coded sink, then the raw
    * (vec_id, cell, embedding-as-double) rows into the ingest ledger,
    * both under the SAME batch id. Coded first: a crash between the two
    * leaves the coded batch committed and the ledger row missing —
    * exactly the state the checkpoint replay repairs (the micro-batch
    * was never checkpoint-committed, so a restarted stream re-delivers
    * it: on the same generation the coded sink skips by marker and the
    * ledger write completes; after a [[handoff]] the replay re-lands the
    * batch whole in the NEW generation, which is also where a
    * ledger-missed batch must end up — no loss, no duplicate, in either
    * order of recovery). Ledger-first would instead let handoff AND the
    * replay both deliver the batch: duplicates. */
  private def landCodedAndRaw(assigned: DataFrame, cb: Seq[Seq[Seq[Double]]],
      coded: ManifestedParquetSink, raw: ManifestedParquetSink,
      batchId: Long): Unit = {
    // attr rides LAST so every (vec_id, cell, codes) positional reader
    // of the pre-v4 layout keeps working
    coded.process(assigned.select(col("vec_id"), col("cell"),
      graft.functions.GraftFunctions.pqCodes(col("rv"), cb).as("codes"),
      col("attr")), batchId)
    // attr in the LEDGER too: a handoff carry re-codes the tail into the
    // next generation and must not strip its metadata
    raw.process(assigned.select(col("vec_id"), col("cell"),
      col("ed").as("embedding"), col("attr")), batchId)
  }

  /** Streaming-ingest batch ids live in per-stream SLOTS of this size,
    * above [[build]]'s corpus batch (id 0) and low-numbered manual
    * [[addVectors]] calls — the sink's idempotence marker is keyed by
    * batch id, so any collision would silently SKIP a distinct batch.
    * A slot per stream (not one shared base): a SECOND ingest stream
    * with a fresh checkpoint restarts micro-batch ids at 0, and on a
    * shared base its first batches would find the first stream's
    * markers and vanish. */
  private[graft] val IngestSlotSize = 1L << 20

  /** The stable batch-id offset of one ingest stream, keyed by its
    * checkpoint location: slot assignment is a create-once marker file
    * under the generation (so a RESTART of the same checkpoint maps
    * replayed micro-batches to the SAME sink ids — the idempotence
    * contract — while a new checkpoint allocates the next slot). Slot
    * count is capped so ids stay within the sink's 9-digit marker
    * format. Allocation runs under the build lock; concurrent ingest
    * WRITERS on one root are out of contract anyway (single writer),
    * but two successive streams may allocate from different JVMs. */
  private def ingestOffset(root: String, g: Long, checkpointDir: String): Long = {
    val dir = s"${genPath(root, g)}/ingest_streams"
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val marker = s"$dir/$h"
    FsIo.readString(marker) match {
      case Some(off) => off.trim.toLong
      case None => withBuildLock(root) {
        FsIo.readString(marker) match {
          case Some(off) => off.trim.toLong
          case None =>
            val fs = FsIo.fs(new org.apache.hadoop.fs.Path(dir))
            fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
            val used = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).length
            val slot = used + 1
            require(slot <= 900,
              s"IvfPqIndex: ingest-stream slots exhausted under $dir ($slot) — " +
                "batch ids would overflow the sink's 9-digit marker format")
            val off = IngestSlotSize * slot
            FsIo.writeStringAtomic(marker, off.toString)
            off
        }
      }
    }
  }

  /** Streaming ADD — the index's ingest path: land a vector stream
    * (vec_id, embedding) into the current generation's coded table,
    * one coded batch per micro-batch. Exactly-once by the sink's
    * batch-keyed idempotence (a replayed micro-batch finds its commit
    * marker and skips; a crashed-mid-append batch is purged and
    * rewritten whole); batch ids are offset into this stream's
    * [[ingestOffset]] slot so neither the build's corpus batch nor a
    * previous stream's batches can shadow them. The model is FROZEN
    * per generation — ingest never retrains; a scheduled [[ensure]]
    * after the reference corpus changes starts the next generation,
    * exactly FAISS's add-vs-retrain split. The stream is BOUND to the
    * generation it started on: every micro-batch re-checks the live
    * generation and fails LOUDLY if a rebuild superseded it (silently
    * appending to a superseded — eventually GC'd — generation would
    * lose every vector ingested after the swap). Composes with the
    * sink's maintenance: versioned manifests per batch, scanAsOf to
    * pre-ingest snapshots, and with `autoReclusterAt` an inline
    * recluster-by-cell between micro-batches (the single-writer-safe
    * point) once add-batch debris crosses the threshold. Opt-in drift
    * monitor (`driftAlertAt`): each batch's mean residual norm is
    * priced against the build-time baseline — residuals ARE the
    * model-fit signal (a frozen coarse model codes a drifted
    * distribution with growing residuals, which 4-bit PQ quantizes
    * badly; BASELINE.md "Recall lane: trained coarse quantizer" prices
    * the endpoint on the misaligned fixture); a
    * breach writes the create-once `_drift_alert`. The POLICY stays
    * external: a retrain needs a refreshed reference corpus only the
    * operator can designate — detection is wired in, the rebuild
    * decision is not usurped. Single ACTIVE writer per root
    * (Structured Streaming's one-active-query-per-checkpoint). */
  def startIngest(vecsStream: DataFrame, root: String, checkpointDir: String,
      autoReclusterAt: Option[Int] = None,
      reclusterFiles: Int = 8,
      reclusterBuckets: Int = 4096,
      driftAlertAt: Option[Double] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val s = vecsStream.sparkSession
    val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
      s"IvfPqIndex: no committed generation under $root — build first"))
    val off = ingestOffset(root, g, checkpointDir)
    // model read ONCE at stream start — frozen per generation by
    // contract, so per-batch re-reads would buy nothing
    val cents = centroids(s, root, g)
    val cb = readCodebook(s, root, g)
    val rot = readRotation(s, root, g)
    val flavor = readFlavor(root, g)
    val sink = codedSink(root, g, autoReclusterAt, reclusterFiles, reclusterBuckets)
    val raw = rawSink(root, g)
    val baseline = driftAlertAt.map { _ =>
      FsIo.readString(s"${genPath(root, g)}/baseline_resid")
        .map(_.trim.toDouble)
        .getOrElse(throw new IllegalStateException(
          s"IvfPqIndex: driftAlertAt set but generation g$g has no " +
            "baseline_resid (built by an older format?) — rebuild first"))
    }
    val alertPath = s"${genPath(root, g)}/_drift_alert"
    vecsStream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // slot exhaustion fails LOUDLY like the 900-slot cap: a stream
        // past 2^20 micro-batches would overflow into the NEXT stream's
        // slot, where a colliding id finds the other stream's commit
        // marker and is silently skipped — the exact loss mode the slots
        // exist to prevent (ADVICE r15)
        require(id < IngestSlotSize,
          s"IvfPqIndex: ingest stream at $checkpointDir exceeded its batch-id " +
            s"slot ($id >= $IngestSlotSize) — restart ingest on a fresh " +
            "checkpoint to allocate a new slot")
        // the whole batch lands under the build lock: a [[handoff]]
        // holding it cannot snapshot the ledger BETWEEN this batch's
        // generation check and its writes — either the batch completes
        // first (its ledger row is in the snapshot) or the handoff does
        // (the check below fails loudly, the checkpoint never commits
        // the batch, and the restarted stream re-delivers it to the new
        // generation). One driver-side lock per micro-batch — noise next
        // to the batch's own Spark jobs.
        withBuildLock(root) {
        val live = currentGeneration(root)
        if (!live.contains(g)) throw new IllegalStateException(
          s"IvfPqIndex: ingest stream is bound to generation g$g but the " +
            s"live generation is ${live.fold("<none>")(v => s"g$v")} — a " +
            "rebuild superseded it; stop this stream and start a new one " +
            "against the current generation (a handoff re-codes this " +
            "stream's committed ledger; the replay covers the rest)")
        // ONE assignment job per batch: the persisted frame feeds the
        // PQ-encode projection, the raw-ledger projection, and (when
        // monitored) the residual-norm agg — never a second corpus join
        val assigned = codeWithModel0(b, cents, keepEd = true, rot = rot,
            flavor = flavor)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          landCodedAndRaw(assigned, cb, sink, raw, off + id)
          for (t <- driftAlertAt; base <- baseline)
            if (FsIo.readString(alertPath).isEmpty) {
              val r = assigned
                .agg(avg(sqrt(graft.functions.GraftFunctions.vecDot(col("rv"), col("rv")))))
                .head()
              // zero baseline (a corpus the centroids fit exactly, to
              // 6dp) must not disable the monitor: ANY material
              // residual over a zero baseline is infinite drift
              val breach = !r.isNullAt(0) &&
                (if (base > 0) r.getDouble(0) / base > t
                 else r.getDouble(0) > 1e-6)
              if (breach)
                FsIo.writeStringAtomic(alertPath,
                  if (base > 0)
                    f"batch=${off + id} ratio=${r.getDouble(0) / base}%.4f"
                  else f"batch=${off + id} ratio=inf")
            }
        } finally { assigned.unpersist(); () }
        }
      }
      .start()
  }

  /** The generation's drift alert, if one fired: "batch=<sink batch id>
    * ratio=<mean-resid multiple of baseline>". Create-once — the FIRST
    * breaching batch wins; clearing it is a rebuild (new generation). */
  def driftAlert(root: String): Option[String] = for {
    g <- currentGeneration(root)
    a <- FsIo.readString(s"${genPath(root, g)}/_drift_alert")
  } yield a

  /** Assignment-only coding half (vec_id, cell, rv[, ed]) — the one
    * frozen-model assignment [[landCodedAndRaw]], the drift monitor and
    * [[buildLocked]]'s carry all project from. `keepEd = true` keeps the
    * double-cast embedding for the raw-ledger projection. With `rot`
    * (an OPQ generation) the vector is rotated by the FROZEN model
    * before assignment — residuals, codes, and drift norms all live in
    * rotated space, matching the build — while the kept `ed` stays the
    * PRE-rotation embedding: the raw ledger is the WAL a future
    * [[handoff]] re-codes under a RETRAINED rotation, so it must store
    * the original vector, not this generation's frame. */
  private def codeWithModel0(vecs: DataFrame, cents: DataFrame,
      keepEd: Boolean = false,
      rot: Option[EmbeddingOps.OpqModel] = None,
      flavor: Flavor = Plain): DataFrame = {
    // attr rides every assignment (v4): the coded row's metadata column
    // for [[queryFiltered]], null when the batch carries none
    val prep0 = withAttr(vecs)
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
    def plainAssign() = {
      val prep = prep0.withColumn("nrm",
        sqrt(graft.functions.GraftFunctions.vecDot(col("ed"), col("ed"))))
      EmbeddingOps.ivfAssign(prep, cents, maxRank = 1, keepEd = keepEd,
        carryCols = Seq("attr"))
    }
    (flavor, rot) match {
      case (Plain, _) => plainAssign()
      case (_, None) => throw new IllegalStateException(
        s"IvfPqIndex: flavor ${flavor.name} generation is missing its rotation model")
      case (Opq, Some(om)) =>
        val prep = EmbeddingOps.opqApplyRotation(
          prep0.withColumn("ed0", col("ed")), om.mean, om.u)
        val a = EmbeddingOps.ivfAssign(prep, cents, maxRank = 1,
          keepEd = false,
          carryCols = (if (keepEd) Seq("ed0") else Nil) :+ "attr")
        if (keepEd) a.withColumnRenamed("ed0", "ed") else a
      case (OpqResidual, Some(om)) =>
        // the residual ordering's whole point: assignment runs on the
        // RAW vector (same cells as a plain index); only the residual is
        // centered + reflected before coding, matching the build. The
        // kept `ed` is the raw embedding either way — the ledger's WAL
        // contract is untouched by this flavor.
        EmbeddingOps.opqRotateColumn(plainAssign(), "rv", om.mean, om.u)
      case (Auto, Some(_)) => throw new IllegalStateException(
        "unreachable: readFlavor never returns Auto")
    }
  }

  /** Merge sorted probed cells into maximal consecutive runs — the
    * bound sets a union-pruned scan reads. nprobe cells → ≤ nprobe
    * runs, driver-side on a ≤(#queries × nprobe)-element array. */
  private[graft] def cellRuns(cells: Seq[Long]): Seq[(Long, Long)] =
    cells.distinct.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, c) if c <= hi + 1 => (lo, c) :: rest
      case (acc, c) => (c, c) :: acc
    }.reverse

  /** SEARCH: probe the persisted index with the source corpus' query
    * vectors (vec_id < 10) — nprobe cell ranking against the persisted
    * centroids, residual ADC against the persisted codes. The coded
    * scan goes through the sink's manifest pruned to the UNION of the
    * probed cells' consecutive runs (round-16: the former [min, max]
    * span over-read badly on a fragmented pre-recluster layout when
    * probe cells land far apart — receipt in BASELINE.md); tombstoned
    * ids ([[deleteVectors]]) are anti-joined out only when the
    * generation actually has tombstones, so the delete-free plan is
    * byte-identical to before. */
  def query(s: SparkSession, dir: String, root: String,
      nprobe: Int, k: Int): DataFrame =
    queryInternal(s, dir, root, nprobe, k, attrEq = None)

  /** FILTERED SEARCH (round-18 verdict task 3) — "nearest neighbors
    * WHERE attr = x", the predicate form every production vector store
    * serves (FAISS IDSelector / Milvus scalar filtering). The predicate
    * is applied to the CANDIDATE SET BEFORE ADC ranking — a caller that
    * instead post-filters an unfiltered top-k silently under-returns
    * (the k winners may all carry the wrong attr; IvfPqIndexSpec pins a
    * case where the two differ). Because attr rides INSIDE the coded
    * table (v4), the predicate reaches the parquet scan as a pushed
    * filter beside the manifest's cell pruning — no join, no second
    * pass. Recall note: cells are still probed by query GEOMETRY alone,
    * so a selective predicate thins each probed cell's candidate pool;
    * the operational lever is a deeper nprobe (cell-level overfetch) —
    * the registered query probes 4 cells where its unfiltered sibling
    * probes 2, and the brute-force-vs-index recall tradeoff is the
    * documented IVF contract, unchanged. */
  def queryFiltered(s: SparkSession, dir: String, root: String,
      nprobe: Int, k: Int, attrEq: Int): DataFrame =
    queryInternal(s, dir, root, nprobe, k, attrEq = Some(attrEq))

  private def queryInternal(s: SparkSession, dir: String, root: String,
      nprobe: Int, k: Int, attrEq: Option[Int]): DataFrame = {
    val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
      s"IvfPqIndex: no committed generation under $root — build first"))
    val cents = centroids(s, root, g)
    val cb = readCodebook(s, root, g)
    // ONE query-side assignment job: the pinned frame feeds both the
    // bounded probe-plan collect (#queries x nprobe rows, <= 20 here —
    // what turns the manifest's cell boxes into skipped files) and the
    // broadcast probe side of the ADC join. An OPQ generation rotates
    // the query vectors with ITS frozen model first — probing rotated
    // codes with unrotated queries would rank garbage.
    val q = graft.Checkpoints.pin((readFlavor(root, g), readRotation(s, root, g)) match {
      case (Plain, _) => EmbeddingOps.ivfPqQueryFrame(s, dir, cents, nprobe)
      case (_, None) => throw new IllegalStateException(
        s"IvfPqIndex: rotated generation g$g is missing its rotation model")
      case (Opq, Some(om)) =>
        EmbeddingOps.opqIvfPqQueryFrame(s, dir, om, cents, nprobe)
      case (OpqResidual, Some(om)) =>
        // probe cells from the RAW centroids; only the per-cell query
        // residual is centered + reflected before ADC (the coded
        // candidates went through the identical arithmetic at build)
        EmbeddingOps.opqRotateColumn(
          EmbeddingOps.ivfPqQueryFrame(s, dir, cents, nprobe), "qr", om.mean, om.u)
      case (Auto, Some(_)) => throw new IllegalStateException(
        "unreachable: readFlavor never returns Auto")
    })
    val probed = q.select(col("cell")).distinct().collect().map(_.getLong(0))
    if (probed.isEmpty) EmbeddingOps.ivfPqEmpty(s, dir)
    else {
      val sets = cellRuns(probed.toSeq).map { case (lo, hi) =>
        Seq(("cell", lo, hi)) }
      val coded0 = codedSink(root, g).scanAny(s, sets)
      // the attr predicate lands directly on the coded scan (pushed to
      // parquet), so the delete-free unfiltered plan stays byte-identical
      val coded = attrEq.fold(coded0)(a => coded0.filter(col("attr") === a))
      val live = tombstoneIds(s, root, g, Some(sets)) match {
        case None => coded
        case Some(t) => coded.join(t, Seq("vec_id"), "left_anti")
      }
      EmbeddingOps.ivfPqProbeWith(q, live, cb, k)
    }
  }

  /** One generation's maintenance numbers ([[stats]]). */
  final case class IndexStats(
      generation: Long,
      opq: Boolean, // any rotation present (either ordering)
      flavor: String, // "plain" | "opq" | "opqres"
      codedRows: Long,
      codedFiles: Long,
      ledgerRows: Long,
      tombstoneRows: Long,
      mutated: Boolean,
      purged: Boolean,
      driftAlert: Option[String])

  /** OPERATOR-FACING generation report — the numbers an index operator
    * reads before deciding maintenance (recluster debris? purge
    * backlog? handoff after a drift alert?), assembled ENTIRELY from
    * manifests and marker files: never a data scan, so it is safe to
    * poll on a schedule against a live index. `ledgerRows` is the WAL
    * depth a [[handoff]] would re-code (vectors in no corpus snapshot
    * yet); `tombstoneRows` is [[purgeDeleted]]'s backlog; `mutated` is
    * the pristine gate's input ([[isMutated]]); `driftAlert` surfaces
    * the create-once monitor verbatim. None = no committed generation.
    * Pairs with [[EmbeddingOps]]'s e_ivf_balance (cell skew) the way
    * the drift monitor pairs with t_source_kl: one watches the model,
    * one watches the layout, this reports the lifecycle.
    *
    * Concurrency (ADVICE r16): the reads deliberately do NOT take
    * [[withBuildLock]] — a poller must not block behind a multi-minute
    * build — so a concurrent handoff/purge/generation-GC can delete
    * generation g's files between `currentGeneration` and the
    * manifest/marker reads. Any such mid-read failure is caught and the
    * read RETRIES against the then-current generation; if the second
    * attempt also loses the race (two swaps inside one poll — not a
    * steady state), it returns None, which a scheduled poller treats as
    * "try again next tick", never a crash. */
  def stats(s: SparkSession, root: String): Option[IndexStats] = {
    def readGen(g: Long): IndexStats = {
      // manifest aggs are bounded by the table's FILE count (one row
      // per file), so the driver-side head() reads a tiny frame
      def tbl(sink: ManifestedParquetSink): (Long, Long) =
        sink.currentVersion() match {
          case None => (0L, 0L)
          case Some(_) =>
            val r = sink.manifest(s)
              .agg(coalesce(sum(col("rows")), lit(0L)), count(lit(1)))
              .head()
            (r.getLong(0), r.getLong(1))
        }
      val (codedRows, codedFiles) = tbl(codedSink(root, g))
      val (ledgerRows, _) = tbl(rawSink(root, g))
      val (tombRows, _) = tbl(tombSink(root, g))
      val rotP = new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/rotation")
      IndexStats(g, FsIo.fs(rotP).exists(rotP), readFlavor(root, g).name,
        codedRows, codedFiles,
        ledgerRows, tombRows, isMutated(root, g),
        FsIo.readString(s"${genPath(root, g)}/_purged").isDefined,
        FsIo.readString(s"${genPath(root, g)}/_drift_alert"))
    }
    @annotation.tailrec
    def go(attempt: Int): Option[IndexStats] =
      currentGeneration(root) match {
        case None => None
        case Some(g) =>
          val read =
            try Some(readGen(g))
            catch { case scala.util.control.NonFatal(_) => None }
          read match {
            case some @ Some(_) => some
            case None if attempt == 0 => go(1)
            case None => None
          }
      }
    go(0)
  }

  /** DRIFT-ALERT RECOVERY — the generation swap with NO vector loss
    * (round-16 verdict task 1). The operational loop this closes:
    * [[startIngest]]'s monitor fires `_drift_alert` → the operator
    * designates a REFRESHED reference corpus at `dir` (typically: the
    * old corpus plus whatever re-labeling/re-embedding motivated the
    * refresh) → `handoff(s, dir, root)` retrains and publishes the next
    * generation. The hole it plugs: vectors ingested into the live
    * generation that the refreshed snapshot does NOT contain would
    * otherwise exist only in the superseded (soon-GC'd) generation —
    * silently lost. Handoff snapshots the live generation's raw ingest
    * LEDGER under the build lock, anti-joins the refreshed corpus' ids
    * (corpus wins on overlap — it is the source of truth) and the
    * generation's tombstones (a deleted vector must not resurrect), and
    * hands the surviving tail to the build as `carry`: coded with the
    * NEW model and landed — coded + ledger — BEFORE the new generation's
    * commit marker, so a crash at ANY point leaves either the old
    * generation fully live or the new one fully carried.
    *
    * Stream choreography: the bound ingest stream fails loudly on its
    * next batch (by design); RESTART IT ON ITS SAME CHECKPOINT. Every
    * batch the old checkpoint committed is in the ledger handoff just
    * carried; the one possibly-uncommitted in-flight batch is exactly
    * what the checkpoint replays into the new generation's fresh slot —
    * no loss and no duplicate, proven in IvfPqIndexSpec. The new
    * generation starts alert-free (drift baselines are per-build).
    * None = the refreshed corpus cannot carry an index (model-row
    * contract); nothing is changed in that case. */
  def handoff(s: SparkSession, dir: String, root: String,
      flavor: Flavor = Plain): Option[Long] = {
    // Auto re-resolves against the REFRESHED corpus: a drift-triggered
    // handoff is exactly when the geometry may have changed flavor
    val f = resolveFlavor(s, dir, flavor)
    withBuildLock(root) {
      currentGeneration(root) match {
        case None => buildLocked(s, dir, root, flavor = f)
        case Some(old) =>
          val tail: Option[DataFrame] = ledgerScan(s, root, old).flatMap { lsc =>
            // pre-v4 ledgers carry no attr; withAttr nulls it so the
            // carry re-codes cleanly either way
            val led = withAttr(lsc)
              .select(col("vec_id"), col("embedding"), col("attr"))
            val corpusIds = graft.Tables.t(s, dir, "embeddings")
              .select(col("vec_id"))
            val t0 = led.join(corpusIds, Seq("vec_id"), "left_anti")
            val t = tombstoneIds(s, root, old, None)
              .fold(t0)(ti => t0.join(ti, Seq("vec_id"), "left_anti"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            if (t.limit(1).count() > 0) Some(t) else { t.unpersist(); None }
          }
          // the ledger stores PRE-rotation embeddings precisely so this
          // carry can re-code the tail under the NEW generation's
          // (possibly retrained) rotation
          try buildLocked(s, dir, root, carry = tail, flavor = f)
          finally { tail.foreach(_.unpersist()); () }
      }
    }
  }

  /** MAINTENANCE: physically drop tombstoned vectors (and their
    * tombstones) from the current generation — the rewrite half of
    * [[deleteVectors]], FAISS's compaction analog. The coded table is
    * re-clustered through the sink's atomic swap with the tombstoned ids
    * filtered out of the rewrite; the `_purged` flag lands BEFORE the
    * tombstone table is cleared so [[isMutated]] keeps witnessing the
    * mutation at every crash point; the raw LEDGER drops the same ids so
    * a later [[handoff]] cannot resurrect them. Single-writer: pause any
    * ingest stream first (the recluster refuses an in-flight batch).
    * scanAsOf readers of pre-purge coded versions fail loudly after the
    * swap (recluster's documented contract). Returns the recluster
    * receipt. */
  def purgeDeleted(s: SparkSession, root: String,
      numFiles: Int = 8, buckets: Int = 4096): graft.operators.Layout.ReclusterReceipt =
    withBuildLock(root) {
      val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
        s"IvfPqIndex: no committed generation under $root — build first"))
      val t = tombstoneIds(s, root, g, None).getOrElse(
        throw new IllegalStateException(
          s"IvfPqIndex: generation g$g has no tombstones to purge"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        t.count()
        val r = codedSink(root, g).recluster(s, numFiles, buckets,
          transform = df => df.join(t, Seq("vec_id"), "left_anti"))
        // the ledger must forget purged ids too — tombstones are about
        // to vanish, and a handoff carrying a purged id would undelete it
        ledgerScan(s, root, g).foreach { lsc =>
          val surviving = lsc
            .join(t, Seq("vec_id"), "left_anti").limit(1).count()
          if (surviving > 0)
            rawSink(root, g).recluster(s, numFiles = 1,
              transform = df => df.join(t, Seq("vec_id"), "left_anti"))
          else {
            // every ledgered vector was purged: an EMPTY ledger is the
            // legal no-WAL state — drop it rather than rewrite 0 rows
            val fs0 = FsIo.fs(new org.apache.hadoop.fs.Path(root))
            fs0.delete(new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/raw"), true)
            fs0.delete(new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/raw_manifest"), true)
          }
        }
        FsIo.writeStringAtomic(s"${genPath(root, g)}/_purged", "1")
        val fs = FsIo.fs(new org.apache.hadoop.fs.Path(root))
        fs.delete(new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/tombs"), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"${genPath(root, g)}/tombs_manifest"), true)
        r
      } finally { t.unpersist(); () }
    }

  /** MAINTENANCE: compact ingest debris — recluster the current
    * generation's coded table back to `numFiles` without touching its
    * content. Every [[addVectors]]/[[startIngest]] batch appends at
    * least one file, so a long-lived generation accretes small files
    * that [[query]]'s manifest pruning must enumerate and the scan
    * must open; compaction restores the build-time layout (same sink,
    * same cluster keys, so cell locality — and with it the
    * union-of-runs pruning — is preserved). Content is unchanged:
    * `mutated`/pristine gates are NOT touched. Single-writer like
    * every rewrite here: pause any ingest stream first; scanAsOf
    * readers of pre-compact coded versions fail loudly after the swap
    * (recluster's documented contract). */
  def compactCoded(s: SparkSession, root: String, numFiles: Int = 8,
      buckets: Int = 4096): graft.operators.Layout.ReclusterReceipt =
    withBuildLock(root) {
      val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
        s"IvfPqIndex: no committed generation under $root — build first"))
      codedSink(root, g).recluster(s, numFiles, buckets)
    }

  /** The maintenance DECISION TABLE (round-17 verdict task 4) — the
    * thresholds a scheduled [[maintain]] tick compares one [[stats]]
    * report against. `refreshedCorpus` is where a drift-triggered
    * [[handoff]] retrains from (the refreshed reference corpus the
    * alert's operator designates); None = drift alerts are surfaced
    * but handoff stays a human decision. */
  final case class MaintenancePolicy(
      purgeBacklog: Long = 1024L,
      maxCodedFiles: Long = 64L,
      targetFiles: Int = 8,
      buckets: Int = 4096,
      refreshedCorpus: Option[String] = None,
      /** Re-choose the flavor by measurement ([[chooseFlavor]]) when a
        * drift-triggered handoff retrains — drift means the geometry
        * CHANGED, which is exactly when the old flavor choice may no
        * longer hold. Default false: keep the current flavor (the
        * conservative ops stance — a flavor flip also flips the
        * fingerprint lineage). */
      autoFlavor: Boolean = false,
      /** Probe-depth knobs for [[filteredNprobe]] (round-19 verdict
        * task 7): `nprobeBase` is the unfiltered operating point,
        * `nprobeMax` the deepest probe the selectivity rule may
        * recommend — 8 because BASELINE.md "Round 18: filtered-ANN
        * recall lane" prices the lever exactly over nprobe 1..8
        * (clustered recall 0 → 0.37). */
      nprobeBase: Int = 2,
      nprobeMax: Int = 8)

  /** SELECTIVITY-AWARE PROBE DEPTH for filtered search (round-19
    * verdict task 7). Filtered search probes cells by query GEOMETRY
    * alone, so a selective predicate thins each probed cell's candidate
    * pool and recall collapses at the unfiltered operating point —
    * BASELINE.md "Round 18: filtered-ANN recall lane" prices the fix
    * (clustered recall 0 at nprobe=1 → 0.37 at nprobe=8). The lever is
    * cell-level overfetch: estimate the predicate's selectivity p from the
    * generation's coded table (ONE narrow pushed-filter aggregate over
    * the attr column — maintenance-tick cadence, not per probe) and
    * deepen so the expected surviving candidate mass matches the
    * unfiltered pool: nprobe = clamp(ceil(base / p), base, max). A
    * non-selective predicate (p = 1) therefore stays at base — the
    * "threshold" is the arithmetic itself: deepening begins exactly
    * when p < 1 and saturates at `nprobeMax` for p <= base/max (6.25%
    * of the corpus under the defaults). An attr unseen in the coded
    * table returns `nprobeMax` — the answer set is empty at any depth,
    * and max is the honest "selectivity unknown/extreme" posture. A
    * pre-v4 generation (no attr column) returns base: there is nothing
    * to filter on, so there is nothing to compensate for. */
  def filteredNprobe(s: SparkSession, root: String, attrEq: Int,
      policy: MaintenancePolicy = MaintenancePolicy()): Int = {
    val g = currentGeneration(root).getOrElse(throw new IllegalStateException(
      s"IvfPqIndex: no committed generation under $root — build first"))
    val coded = codedSink(root, g)
      .scan(s, Seq(("cell", Long.MinValue, Long.MaxValue)))
    if (!coded.columns.contains("attr")) policy.nprobeBase
    else {
      val r = coded.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("attr") === attrEq, 1L).otherwise(0L)), lit(0L))
          .as("m")).head()
      val total = r.getLong(0)
      val matched = r.getLong(1)
      if (total == 0L || matched == 0L) policy.nprobeMax
      else {
        val p = matched.toDouble / total
        math.min(policy.nprobeMax,
          math.max(policy.nprobeBase,
            math.ceil(policy.nprobeBase / p).toInt))
      }
    }
  }

  /** [[queryFiltered]] at the [[filteredNprobe]]-chosen depth — the
    * policy-wired entry a maintenance loop (or a caller that knows the
    * predicate but not the corpus) uses instead of hand-picking
    * nprobe. */
  def queryFilteredAuto(s: SparkSession, dir: String, root: String,
      k: Int, attrEq: Int,
      policy: MaintenancePolicy = MaintenancePolicy()): DataFrame =
    queryFiltered(s, dir, root,
      nprobe = filteredNprobe(s, root, attrEq, policy), k = k, attrEq = attrEq)

  /** One maintenance TICK: poll [[stats]], execute the decision table,
    * return the actions taken (empty = quiesced). The operational loop
    * the round-16 report machinery fed by hand, now driven end-to-end:
    *
    *  - drift alert + a designated refreshed corpus → [[handoff]]
    *    (exclusive: it swaps the generation, so the tick returns and
    *    the NEXT tick re-reads the new generation's clean stats);
    *  - tombstone backlog > `purgeBacklog` → [[purgeDeleted]] (which
    *    itself reclusters, so the follow-up debris check reads FRESH
    *    stats — a purge usually resolves compaction too);
    *  - coded files > `maxCodedFiles` → [[compactCoded]].
    *
    * None from [[stats]] (no generation, or a concurrent swap lost the
    * race twice) takes no action — the next tick sees the settled
    * state. Single-writer contract unchanged: run ticks beside a
    * PAUSED ingest stream (the rewrites refuse in-flight batches), the
    * same choreography [[handoff]] documents. */
  def maintain(s: SparkSession, root: String,
      policy: MaintenancePolicy = MaintenancePolicy()): Seq[String] =
    stats(s, root) match {
      case None => Seq.empty
      case Some(st) if st.driftAlert.isDefined && policy.refreshedCorpus.isDefined =>
        handoff(s, policy.refreshedCorpus.get, root, flavor =
          if (policy.autoFlavor) Auto
          else st.flavor match {
            case "opqres" => OpqResidual
            case "opq" => Opq
            case _ => Plain
          }) match {
          case Some(g) => Seq(s"handoff:drift:g$g")
          case None => Seq.empty // refreshed corpus cannot carry an index
        }
      case Some(st) =>
        val purged =
          if (st.tombstoneRows > policy.purgeBacklog) {
            purgeDeleted(s, root, policy.targetFiles, policy.buckets)
            Seq(s"purge:${st.tombstoneRows}")
          } else Seq.empty
        val fresh = if (purged.nonEmpty) stats(s, root) else Some(st)
        val compacted = fresh match {
          case Some(a) if a.codedFiles > policy.maxCodedFiles =>
            compactCoded(s, root, policy.targetFiles, policy.buckets)
            Seq(s"compact:${a.codedFiles}")
          case _ => Seq.empty
        }
        purged ++ compacted
    }
}
