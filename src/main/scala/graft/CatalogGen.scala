package graft

/** Renders CATALOG.md from [[Catalog.describe]] + the live query/oracle
  * maps — run `sbt "runMain graft.CatalogGen"` after adding a query (the
  * InfraSpec guard fails the build until both the describe entry and the
  * regenerated file are committed). No SparkSession needed: only the map
  * KEYS are read, never executed. */
object CatalogGen {

  def render: String = {
    val names = SparkEntry.queries.keySet
    val described = Catalog.describe.keySet
    require(names == described,
      s"Catalog.describe out of sync: missing=${(names -- described).toSeq.sorted} " +
        s"stale=${(described -- names).toSeq.sorted}")
    val fams = SparkEntry.families
    val oracled = SparkEntry.oracleSql.keySet
    val sb = new StringBuilder
    sb ++= "# Query catalog\n\n"
    sb ++= "GENERATED by `graft.CatalogGen` from `Catalog.describe` — do " +
      "not edit by hand\n(InfraSpec pins this file byte-identical to the " +
      "generator output).\n\n"
    sb ++= s"${names.size} graded queries: ${(names & oracled).size} with " +
      "a DuckDB oracle (exact row/schema/hash\ncompare at every scale " +
      s"factor), ${(names -- oracled).size} rows-only by contract " +
      "(Spark-hash-specific\nconstructions whose machinery is " +
      "value-pinned or report-graded by an oracled twin\n— each row " +
      "below says which). Columns: the SURVEY.md §2 row the query " +
      "grades, the\noracle kind, and what it computes. Every query runs " +
      "via `SparkEntry.queries(name)(spark, sfDir)`\nover the parquet " +
      "tables in `sfDir`.\n"
    for (fam <- SparkEntry.familyOrder) {
      val qs = names.filter(fams(_) == fam).toSeq.sorted
      if (qs.nonEmpty) {
        sb ++= s"\n## $fam\n\n"
        sb ++= "| query | §2 row | oracle | computes |\n"
        sb ++= "|---|---|---|---|\n"
        for (q <- qs) {
          val (row, desc) = Catalog.describe(q)
          val kind = if (oracled(q)) "oracled" else "rows-only"
          sb ++= s"| `$q` | $row | $kind | $desc |\n"
        }
      }
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "CATALOG.md"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), render)
    println(s"wrote $out (${SparkEntry.queries.size} queries)")
  }
}
