package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration this library is designed
  * to run under at scale, in one place instead of scattered notebook
  * boilerplate. Every knob has a 100 TB rationale:
  *
  *  - AQE on (default, asserted): runtime re-planning converts stats-blind
  *    sort-merge joins to broadcast and splits skewed partitions — the
  *    mechanism the skew notes in [[operators.EventOps]] (a2b) rely on.
  *  - `skewJoin.enabled`: hot keys in shuffle joins are split into
  *    sub-partitions instead of stalling one task.
  *  - `coalescePartitions`: post-shuffle micro-partitions merge, so a
  *    high `shuffle.partitions` ceiling is safe to set cluster-wide.
  *  - `files.maxPartitionBytes` 128m: scan-task granularity that keeps a
  *    1000-executor cluster busy on 100 TB (~800k tasks) without
  *    per-task overhead dominating.
  *  - `parquet.filterPushdown` / nested pruning (defaults, asserted):
  *    every `PushedFilters` in PLANS.md depends on these.
  *  - session timezone UTC: all fixtures and oracles are UTC; windowed
  *    results must not depend on cluster locale.
  *  - `file:` resolves to [[ForklessLocalFileSystem]] (`FileSystem`) and
  *    [[ForklessLocalFs]] (`FileContext`). Without libhadoop, Hadoop's
  *    local file system starts a `chmod` process for every file or
  *    directory it creates with a permission and a `readlink` process
  *    inside every `FileContext.rename`. Spark's checkpoint file manager
  *    does both for each offset, commit, sink and source log entry and
  *    for each state-store delta and checksum file, so a short
  *    micro-batch spent most of its commit time starting processes. The
  *    override does the same work in-process; every other scheme, the
  *    rename itself, Spark's checkpoint checksums and its commit checks
  *    are unchanged. Rule: Hadoop's `FileSystem` cache ignores the impl
  *    key, so a `file:` FileSystem that something in the JVM cached
  *    before the first session was built stays the stock class for the
  *    life of the JVM. Build the session before touching `file:` paths
  *    through Hadoop, or pass the session's Hadoop conf when you do.
  *
  * `local(n)` variants exist for tests/benchmarks; `graftExtensions`
  * wires the `graft_*` SQL functions + optimizer rules
  * ([[org.apache.spark.sql.graftext.GraftExtensions]]).
  */
object Sessions {

  /** Confs applied on top of any builder. */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${128L * 1024 * 1024}")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      // Runtime bloom-filter join (promoted from a documented overlay to
      // a default by the round-11 cold-IO receipt): once a join's build
      // side outgrows broadcast (q5's broadcast->SMJ flip at organic
      // x100), inject might_contain(join key) into the probe-side scan
      // so filtered-out rows never reach the shuffle. Cold-page-cache
      // A/B on the x100 organic fixture, 3 interleaved pairs: cold
      // 21.5/14.7/12.9 s off vs 12.6/12.8/11.1 s on; warm
      // 5.9/5.5/4.5 vs 4.3/4.6/3.6 — the bloom won every pairing. The
      // rule declines when the probe scan is under the 100 MB threshold
      // or the plan is all-broadcast (q9 receipt), so test-scale plans
      // are untouched.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "256MB")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "100MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.hadoop.fs.file.impl", classOf[ForklessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForklessLocalFs].getName)

  /** Cluster entry point: caller supplies master via spark-submit. */
  def builder(appName: String, shufflePartitions: Int = 2000): SparkSession.Builder =
    tuned(SparkSession.builder().appName(appName), shufflePartitions)
      .config("spark.sql.extensions", "org.apache.spark.sql.graftext.GraftExtensions")

  /** Local session for tests/benchmarks: shuffle fan-out = cores (the
    * sf0.01-0.1 fixtures never need 200 reducers). Wires GraftExtensions
    * like the cluster builder — the harness mains must exercise the same
    * injectFunction/injectOptimizerRule path a cluster deployment uses. */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    tuned(SparkSession.builder().master(s"local[$cores]").appName(appName), cores)
      .config("spark.sql.extensions", "org.apache.spark.sql.graftext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
