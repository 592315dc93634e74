package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A query that throws is
  * listed on stderr at the end and makes the run exit 1; oracle_sql.json
  * is written either way. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg: comma-separated query names for a targeted run.
    val only = args.lift(2).map(SparkEntry.select(_).toSet)
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .options(graft.io.LocalFs.WriteOptions).parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** `oracle_sql.json`'s body: one JSON object, name → oracle SQL, in the
    * map's order. Jackson escapes quotes, backslashes and every control
    * character — a tab or CR in builder-authored SQL must not make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def oracleJson(m: Map[String, String]): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m.asJava)
}
