package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result (the
  * [[SparkEntry.all]] registry, read through `SparkEntry.queries`) →
  * one parquet dir per query, plus every query's DuckDB oracle in
  * oracle_sql.json, for the DuckDB compare (`tools/compare_oracle.py`).
  *
  * Usage: Verify <sfDir> <outDir> [name1,name2,...]
  * (a name no query carries exits 2 before any query runs)
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset (local iteration)
    val selected =
      try SparkEntry.select(args.drop(2).headOption)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}")
        sys.exit(2)
      }
    val spark = Sessions.builder("graft-verify", Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
