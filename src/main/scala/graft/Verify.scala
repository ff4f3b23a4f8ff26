package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry gate's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated gate subset (dev loop)
    val selected =
      if (args.length > 2) SparkEntry.select(args(2).split(",").toSeq) else SparkEntry.gates
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    selected.foreach { gate =>
      try gate.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${gate.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${gate.name} failed: ${e.getMessage}")
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
    val json = SparkEntry.gates
      .map(g => s"${q(g.name)}: ${q(g.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
