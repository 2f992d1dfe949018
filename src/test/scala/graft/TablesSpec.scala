package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `Tables.t` schema cache: a repeat read plans with no Spark job,
  * returns exactly the uncached read's schema and rows, sees a fixture
  * rewritten in place, and agrees across threads. Also the `events`
  * TIMESTAMP(NANOS) branch and the one-projection NTZ cast against the
  * `withColumn` fold it replaced. */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** `Tables.t` before the schema cache and the one-projection cast,
    * kept verbatim as the reference implementation. */
  private object Uncached {
    def t(spark: SparkSession, dir: String, name: String): DataFrame =
      if (name == "events") events(spark, dir) else
        normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))

    def normalizeNtz(df: DataFrame): DataFrame = {
      def swap(dt: DataType): DataType = dt match {
        case TimestampNTZType => TimestampType
        case s: StructType   => StructType(s.fields.map(f => f.copy(dataType = swap(f.dataType))))
        case a: ArrayType    => a.copy(elementType = swap(a.elementType))
        case m: MapType      => m.copy(keyType = swap(m.keyType), valueType = swap(m.valueType))
        case other           => other
      }
      df.schema.fields.foldLeft(df) { (d, f) =>
        val swapped = swap(f.dataType)
        if (swapped == f.dataType) d
        else d.withColumn(f.name, d.col(s"`${f.name}`").cast(swapped))
      }
    }

    private def events(spark: SparkSession, dir: String): DataFrame = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/events.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => normalizeNtz(df)
        case _ => df
      }
    }
  }

  /** Spark jobs `body` starts, counted by a listener. */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Long) = {
    val jobs = new Measure.JobCounter(s.sparkContext)
    try {
      val v = body
      (v, jobs.count())
    } finally jobs.close()
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.except(b).isEmpty, "rows only in the first frame")
    assert(b.except(a).isEmpty, "rows only in the second frame")
  }

  test("a repeat Tables.t plus .schema starts no Spark job, for every table") {
    val s = spark.newSession()
    Tables.all.foreach { t =>
      val (_, first) = jobsOf(s)(Tables.t(s, sf, t).schema)
      assert(first >= 1, s"$t: the first read in a session should infer (vacuous listener?)")
      val (_, again) = jobsOf(s)(Tables.t(s, sf, t).schema)
      assert(again == 0, s"$t: a cached read started $again jobs")
    }
  }

  test("a table read before the session's first events read stays cached after it") {
    val s = spark.newSession()
    val (_, first) = jobsOf(s)(Tables.t(s, sf, "region").schema)
    assert(first >= 1, "the first read in a session should infer (vacuous listener?)")
    Tables.t(s, sf, "events").schema
    val (_, again) = jobsOf(s)(Tables.t(s, sf, "region").schema)
    assert(again == 0, s"region was inferred again after the events read: $again jobs")
  }

  test("a cached read gives the uncached read's schema, order, nullability and rows") {
    val s = spark.newSession()
    Tables.all.foreach { t =>
      Tables.t(s, sf, t)
      val hit = Tables.t(s, sf, t)
      val ref = Uncached.t(s, sf, t)
      assert(hit.schema === ref.schema, t)
      assert(hit.schema.fields.map(f => (f.name, f.nullable)).toSeq ===
        ref.schema.fields.map(f => (f.name, f.nullable)).toSeq, t)
      sameRows(hit, ref)
    }
  }

  test("a fixture rewritten in place with another schema is read with the new one") {
    val s = spark.newSession()
    // a Spark-written directory, overwritten
    val dir = tempDir("graft_tables_dir")
    s.range(4).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(Tables.t(s, dir, "t").columns.toSeq === Seq("a"))
    assert(Tables.t(s, dir, "t").columns.toSeq === Seq("a"))
    s.range(4).selectExpr("id AS a", "CAST(id AS STRING) AS b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.t(s, dir, "t")
    assert(after.schema === Uncached.t(s, dir, "t").schema)
    assert(after.columns.toSeq === Seq("a", "b"))
    assert(after.collect().length == 4)

    // a single parquet file, replaced by one with another schema
    val one = tempDir("graft_tables_file")
    def partFile(d: String) = Files.list(Paths.get(d)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    s.range(3).selectExpr("id AS x").coalesce(1).write.parquet(s"$one/v1")
    s.range(3).selectExpr("CAST(id AS DOUBLE) AS y", "id AS z").coalesce(1).write.parquet(s"$one/v2")
    val target = Paths.get(one, "u.parquet")
    Files.copy(partFile(s"$one/v1"), target)
    assert(Tables.t(s, one, "u").columns.toSeq === Seq("x"))
    Files.copy(partFile(s"$one/v2"), target, StandardCopyOption.REPLACE_EXISTING)
    val u = Tables.t(s, one, "u")
    assert(u.schema === Uncached.t(s, one, "u").schema)
    assert(u.columns.toSeq === Seq("y", "z"))
    assert(u.agg(sum("z")).head().getLong(0) == 3L)
  }

  test("reads from 8 threads agree with the uncached read") {
    val s = spark.newSession()
    val ref = Tables.all.map(t => t -> Uncached.t(s, sf, t).schema).toMap
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new Callable[Seq[(String, StructType)]] {
          def call(): Seq[(String, StructType)] =
            (1 to 3).flatMap(_ => Tables.all.map(t => t -> Tables.t(s, sf, t).schema))
        })
      }
      futures.foreach { f =>
        f.get(5, TimeUnit.MINUTES).foreach { case (t, schema) =>
          assert(schema === ref(t), t)
        }
      }
    } finally pool.shutdownNow()
    val (_, again) = jobsOf(s)(Tables.all.foreach(t => Tables.t(s, sf, t).schema))
    assert(again == 0)
  }

  test("an events fixture with INT64 TIMESTAMP(NANOS) ts reads as microsecond TimestampType, miss and hit") {
    val dir = tempDir("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |}""".stripMargin)
    val micros = Seq(1700000000123456L, 1700000001000001L, 1700003600999999L)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
        // the session's conf, not a fresh one: this may be the JVM's first
        // file: FileSystem, and the cache keeps whichever class it gets
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      micros.zipWithIndex.foreach { case (us, i) =>
        writer.write(groups.newGroup().append("event_id", i.toLong)
          .append("ts", us * 1000L).append("user_id", 7L).append("event_type", "click"))
      }
    } finally writer.close()

    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val expected = micros.map(us => java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
    def check(df: DataFrame): Unit = {
      assert(df.schema("ts").dataType === TimestampType)
      assert(df.columns.toSeq === Seq("event_id", "ts", "user_id", "event_type"))
      val got = df.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(got === micros)
      val instants = df.orderBy("event_id").select("ts").collect()
        .map(_.getAs[java.sql.Timestamp](0).toInstant).toSeq
      assert(instants === expected)
    }
    val (miss, missJobs) = jobsOf(s)(Tables.t(s, dir, "events"))
    assert(missJobs >= 1, "the first read should infer")
    check(miss)
    val (hit, hitJobs) = jobsOf(s)(Tables.t(s, dir, "events"))
    assert(hitJobs == 0, s"a cached NANOS read started $hitJobs jobs")
    check(hit)
    assert(hit.schema === Uncached.t(s, dir, "events").schema)
    sameRows(hit, Uncached.t(s, dir, "events"))
  }

  test("the one-projection cast matches the withColumn fold on dotted names and nested NTZ") {
    val dir = tempDir("graft_tables_ntz")
    val s = spark.newSession()
    s.range(3).selectExpr(
      "id",
      "to_timestamp_ntz(concat('2024-01-0', CAST(id + 1 AS STRING), ' 03:04:05.123456')) AS `a.b`",
      "concat('v', CAST(id AS STRING)) AS `plain.col`")
      .selectExpr("id", "`a.b`",
        "named_struct('t', `a.b`, 'x', CAST(id AS INT), 'in', named_struct('u', `a.b`)) AS s",
        "array(`a.b`, `a.b`) AS arr",
        "map('k', `a.b`) AS m",
        "array(named_struct('t', `a.b`)) AS arr_s",
        "`plain.col`")
      .write.parquet(s"$dir/nested.parquet")
    val raw = s.read.parquet(s"$dir/nested.parquet")
    assert(raw.schema("a.b").dataType === TimestampNTZType, "vacuous: the fixture has no NTZ column")

    val ref = Uncached.t(s, dir, "nested")
    Seq(Tables.t(s, dir, "nested"), Tables.t(s, dir, "nested"), Tables.normalizeNtz(raw))
      .foreach { got =>
        assert(got.schema === ref.schema)
        assert(got.columns.toSeq === Seq("id", "a.b", "s", "arr", "m", "arr_s", "plain.col"))
        assert(!got.schema.simpleString.contains("timestamp_ntz"), got.schema.simpleString)
        def rows(df: DataFrame): Seq[String] = df.orderBy("id").collect().map(_.toString).toSeq
        assert(rows(got) === rows(ref))
      }
    // a frame with no NTZ column passes through as the same object
    val plain = s.range(2).toDF()
    assert(Tables.normalizeNtz(plain) eq plain)
  }
}
