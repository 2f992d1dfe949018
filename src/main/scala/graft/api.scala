package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A named query: the Spark implementation plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL over the same parquet tables. Queries with
  * `oracle = None` get the driver's weaker rows-only check.
  */
final case class GQuery(
    name: String,
    impl: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Loaders for the deterministic parquet fixture tables (TESTDATA.md).
  *
  * Each table's schema is inferred once per session: parquet inference
  * starts a Spark job, and the registry reads these tables ~300 times a
  * pass. A later read of the same file supplies the remembered schema
  * (`spark.read.schema(s).parquet(path)`), which plans with no job. The
  * schema lives in [[CorpusCache]], keyed on the file's canonical path
  * plus the session confs that change what inference returns
  * ([[InferenceConfs]]) and guarded by the file's stamp, like every
  * other value built from a fixture. A rewritten fixture therefore
  * misses and is inferred again; the cache never serves a stale schema.
  * A path the local filesystem cannot stamp is inferred on every read.
  */
object Tables {
  import org.apache.spark.sql.types._

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The file that holds fixture table `name` under `dir`. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Before any read, so every read in a session shares one cache key.
    // It changes only INT64 TIMESTAMP(NANOS) columns, which only `events`
    // can carry.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (name == "events") events(spark, dir) else
      normalizeNtz(read(spark, path(dir, name)))
  }

  /** Session confs that change the schema parquet inference returns;
    * `t` sets the first. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** `spark.read.parquet(path)`, with the schema inferred once per
    * stamp of `path` and set of inference confs. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val confs = InferenceConfs.map(c => spark.conf.getOption(c).getOrElse(""))
    val schema = CorpusCache.stamped(spark, path, ("schema" +: confs).mkString("|"))(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Driver fixtures are written as parquet timestamp[us] with no UTC
    * adjustment, which Spark 4 infers as TIMESTAMP_NTZ — a type
    * `unix_micros`/`window()`/watermarks all reject. Cast every NTZ
    * column (o_orderdate, l_shipdate, ...) back to TimestampType in one
    * projection; lossless under the engine's pinned UTC session
    * timezone. Column order and names are kept. The swap recurses into
    * struct/array/map types (a nested NTZ would otherwise pass through
    * and still break downstream), and each column is read
    * backtick-quoted so a dotted column name resolves literally. */
  private[graft] def normalizeNtz(df: DataFrame): DataFrame = {
    def swap(dt: DataType): DataType = dt match {
      case TimestampNTZType => TimestampType
      case s: StructType   => StructType(s.fields.map(f => f.copy(dataType = swap(f.dataType))))
      case a: ArrayType    => a.copy(elementType = swap(a.elementType))
      case m: MapType      => m.copy(keyType = swap(m.keyType), valueType = swap(m.valueType))
      case other           => other
    }
    val fields = df.schema.fields
    if (fields.forall(f => swap(f.dataType) == f.dataType)) df
    else df.select(fields.toSeq.map { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      val swapped = swap(f.dataType)
      if (swapped == f.dataType) c else c.cast(swapped).as(f.name)
    }: _*)
  }

  /** Normalize the `events` fixture's `ts` to TimestampType regardless of
    * how the driver generated the parquet that round:
    *   - TIMESTAMP(NANOS) (early rounds): Spark's vectorized reader rejects
    *     it outright, so read as long (legacy conf) and rebuild at
    *     microsecond precision — lossless, no sub-µs components exist.
    *   - timestamp[us] without UTC adjustment (current rounds): Spark 4
    *     infers TIMESTAMP_NTZ, which `unix_micros`/`window()`/watermarks
    *     reject; cast to TimestampType — lossless under the engine's
    *     pinned UTC session timezone (Sessions.scala:38).
    *   - true TimestampType (e.g. ScaleSmoke's re-exported copy): pass
    *     through unchanged.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    val df = read(spark, path(dir, "events"))
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => normalizeNtz(df)
      case _ => df
    }
  }
}
