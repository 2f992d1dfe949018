package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S3: data generators (FileStreamDataGenerator.java:35-110,
  * KafkaStreamDataGenerator.java:30-105, BrowserStreamDataGenerator.java:
  * 30-97). The reference emits 100 randomized CSV records, one file or
  * Kafka message each; ours are seeded and therefore replayable — the
  * property the reference's generators lack that makes ours usable as
  * test fixtures (SURVEY.md §5.1).
  */
object Generators {

  val eventTypes: Seq[String] = Seq("click", "view", "purchase", "error", "signup")

  /** Deterministic event batch (seeded), mirroring the reference's value
    * domains: user pool, action pool, bounded values, monotone-ish
    * timestamps with jitter. */
  def events(seed: Long, n: Int, users: Int = 10,
      startUs: Long = 0L, stepUs: Long = 1000000L): Seq[Ev] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      Ev(
        event_id = i.toLong,
        ts = new java.sql.Timestamp((startUs + i * stepUs + r.nextInt(1000) * 1000L) / 1000L),
        user_id = 1L + r.nextInt(users),
        event_type = eventTypes(r.nextInt(eventTypes.length)),
        value = math.round(r.nextDouble() * 10000.0) / 100.0)
    }
  }

  /** CSV line in the generator's wire format (quoted fields, epoch-micros
    * timestamp) — parseable by [[StreamingPipelines.parseCsvLines]]. */
  def toCsvLine(e: Ev): String =
    s""""${e.event_id}","${e.ts.getTime * 1000L}","${e.user_id}","${e.event_type}","${e.value}""""

  /** File-stream generator: writes `files` CSV files of `perFile` records
    * each into `dir` — the batch analog of the reference's one-file-per-
    * record loop (FileStreamDataGenerator.java:58-107). A streaming file
    * source watching `dir` picks each file up as its own micro-batch. */
  def writeCsvFiles(dir: String, seed: Long, files: Int, perFile: Int): Unit = {
    val all = events(seed, files * perFile)
    Files.createDirectories(Paths.get(dir))
    all.grouped(perFile).zipWithIndex.foreach { case (group, i) =>
      Files.writeString(
        Paths.get(dir, f"events-$i%05d.csv"),
        group.map(toCsvLine).mkString("", "\n", "\n"))
    }
  }

  /** JSON-lines document generator for the corpus-pipeline job (job 9):
    * seeded, replayable mix of clean docs (seeded 5k-word vocab, 50
    * tokens), exact duplicates (~10%), low-quality repetition (~10%),
    * and eval-contaminated docs (~2%, when `evalText` is non-empty) —
    * the realistic input profile for curation throughput. `idOffset`
    * lets a second call extend the corpus without doc_id/file-name
    * collisions (the restart half of a bench run). Tokens are
    * `[a-z0-9 ]` only, so no JSON escaping is needed. */
  def writeJsonDocs(dir: String, seed: Long, files: Int, perFile: Int,
      sources: Int = 4, evalText: String = "", idOffset: Long = 0L): Unit = {
    val r = new scala.util.Random(seed)
    Files.createDirectories(Paths.get(dir))
    val n = files * perFile
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    def fresh(): String = (0 until 50).map(_ => s"w${r.nextInt(5000)}").mkString(" ")
    (0 until n).foreach { _ =>
      val roll = r.nextInt(100)
      val text =
        if (roll < 10 && texts.nonEmpty) texts(r.nextInt(texts.length)) // dup
        else if (roll < 20) Seq.fill(50)("the").mkString(" ")           // junk
        else if (roll < 22 && evalText.nonEmpty) "lead " + evalText + " " + fresh()
        else fresh()
      texts += text
    }
    // File names come from the first doc id in each file, so two calls with
    // different idOffset/perFile can never silently collide on a name
    // (colliding id ranges are the caller's bug and collide in content too).
    texts.grouped(perFile).zipWithIndex.foreach { case (group, f) =>
      val firstId = idOffset + f.toLong * perFile
      val lines = group.zipWithIndex.map { case (text, j) =>
        val id = firstId + j
        s"""{"doc_id":$id,"ts_s":${10 + id},"text":"$text","lang":"en","source":"src${id % sources}"}"""
      }
      Files.writeString(Paths.get(dir, f"docs-$firstId%010d.json"),
        lines.mkString("", "\n", "\n"))
    }
  }

  /** Keyed file-stream generator for state-bound runs (the feed of
    * `BoundedStateSpec`'s load, restart and sustain phases): writes
    * `files` CSV files of `perFile` events each, generated PER FILE
    * (constant driver memory at any corpus size, unlike [[writeCsvFiles]]
    * which materializes the whole run). Event ids and timestamps grow
    * monotonically from `idOffset` (step = `stepUs`), so a second call
    * with `fileOffset`/`idOffset` advanced past the first extends the
    * stream without name collisions or event-time regression — a
    * restart phase keeps the watermark moving forward. Users are drawn
    * uniformly from `1..users` (the key domain). */
  def writeCsvFilesWide(dir: String, seed: Long, files: Int, perFile: Int,
      users: Int, stepUs: Long = 1000000L, fileOffset: Int = 0,
      idOffset: Long = 0L): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until files).foreach { i =>
      val r = new scala.util.Random(seed + fileOffset + i)
      val base = idOffset + i.toLong * perFile
      val sb = new StringBuilder(perFile * 48)
      (0 until perFile).foreach { j =>
        val id = base + j
        val tsUs = id * stepUs + r.nextInt(1000) * 1000L
        sb.append('"').append(id).append("\",\"").append(tsUs)
          .append("\",\"").append(1L + r.nextInt(users))
          .append("\",\"").append(eventTypes(r.nextInt(eventTypes.length)))
          .append("\",\"").append(math.round(r.nextDouble() * 10000.0) / 100.0)
          .append("\"\n")
      }
      Files.writeString(Paths.get(dir, f"events-${fileOffset + i}%05d.csv"), sb.toString)
    }
  }

  /** Continuous generator backed by Spark's rate source — the unbounded
    * analog (rows forever, `rowsPerSecond` throttle) for demo jobs. The
    * rate source's (timestamp, value) drives deterministic synth columns. */
  def rateEvents(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 10 + 1).as("user_id"),
        element_at(
          array(eventTypes.map(lit): _*),
          (col("value") % eventTypes.length + 1).cast("int")).as("event_type"),
        round((col("value") % 997) / 10.0, 2).as("value"))
}
