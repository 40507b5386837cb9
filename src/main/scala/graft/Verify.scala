package graft
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query's
  * directory is deleted before it runs, so a failed query leaves no
  * output from an earlier run for the compare to pass. Ends with one
  * `[verify] ok=N failed=M: <names>` line on stderr; exits 0 either way. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.session(Tool.cpus)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries.filter(q => Tool.selected(q._1))
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      val dir = s"$outDir/$name"
      FileUtils.deleteDirectory(new java.io.File(dir))
      Tool.attempt(spark, "verify", name) {
        val dt = Tool.timed(fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir))._2
        System.err.println(f"[verify] $name ok $dt%.1fs")
      }.fold(Option(name))(_ => None)
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
    System.err.println(s"[verify] ok=${queries.size - failed.size} failed=${failed.size}: ${failed.sorted.mkString(",")}")
  }
}
