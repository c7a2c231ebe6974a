package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in hand-written oracle SQL would
    * otherwise make every JSON reader of oracle_sql.json fail, and the
    * whole correctness check with it. HarnessSpec round-trips every
    * oracle through it.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (dev-only subset
    // runs; the driver always invokes the 2-arg full form)
    val subset = args.lift(2).map(_.split(',').toSet)
    val spark = Sessions.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's localCheckpoint blocks before the next one —
      // same block-accumulation guard as Bench (Sessions.releaseCaches)
      Sessions.releaseCaches(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
