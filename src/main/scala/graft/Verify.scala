package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional extra args = only re-dump these queries (local iteration).
    val only: Set[String] = rest.toSet
    val spark = Sessions.local(Measure.cores(), "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // The codec escapes backslash, quote and every control char (<0x20):
    // a tab or CR in builder-authored SQL must not make the driver's
    // json.load fail and silently zero the round's correctness.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(Json.Obj(SparkEntry.oracleSql.toSeq)))
    // Comparison-environment receipt (separate file — the driver's
    // json.load of oracle_sql.json must see only name->SQL pairs): the
    // LOCAL DuckDB version the oracles were developed against, so a
    // driver-vs-local hash divergence is diagnosable from artifacts
    // alone (round-5's HUGEINT hunt started version-blind).
    val duckv = scala.util.Try(scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb; print(duckdb.__version__)")).!!.trim)
      .getOrElse("unavailable")
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      Json.render(Json.obj("duckdb_local" -> duckv, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"))))
    spark.stop()
  }
}
