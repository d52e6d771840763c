package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter (local use only;
    // the driver always invokes with exactly two args = full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, cpus)
    // concurrent warm-start of the shared builds — full runs only: a
    // named-subset run would prewarm everything and then stop the
    // context under the in-flight builds it never consumes
    if (only.isEmpty) Prewarm.enable()
    new java.io.File(outDir).mkdirs()
    writeOracleJson(outDir)
    val errDir = Paths.get(s"$outDir/_errors")
    // sorted name order (not HashMap order): stable execution order keeps
    // _errors diffs and per-query logs comparable across rounds
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // FAIL LOUDLY: a query that throws at construction/analysis must
        // still appear in the graded surface. Write a one-row sentinel
        // parquet (hash-mismatches any oracle → shows red, never vanishes)
        // plus the full message under _errors/ for diagnosis.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        try {
          import spark.implicits._
          Seq(msg).toDF("graft_query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          Files.createDirectories(errDir)
          Files.writeString(errDir.resolve(s"$name.txt"), msg)
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
        }
      }
      }
    spark.stop()
  }

  /** Written BEFORE the query loop: the oracle map is static, and writing
    * it up front means a crash mid-run (e.g. an sf1 OOM) can never leave
    * a PREVIOUS run's json sitting next to a fresh partial dump — exactly
    * the stale-attribution trap a reused out-dir once produced. */
  private def writeOracleJson(outDir: String): Unit = {
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
  }
}
