package graft

import graft.sources.Tables

/** Infrastructure seams: temp-path hygiene ([[TmpPaths]]) and the
  * parallelized scan helper ([[Tables.scanPar]]). */
class InfraSpec extends SparkSpec {

  /** `file: name` for each of `names` found in a `src/main` Scala file. */
  private def srcMainHits(names: String*): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        names.filter(src.contains).map(n => s"${root.relativize(p)}: $n")
      }.toList.sorted
    finally walk.close()
  }

  test("TmpPaths: keys derive from the full path, distinct per corpus " +
      "and per process") {
    assert(TmpPaths.sanitize("/root/testdata/sf0.1")
      .startsWith("_root_testdata_sf0.1-"))
    // distinct corpora → distinct keys (the hashCode scheme this replaced
    // could collide two corpora onto one artifact)
    assert(TmpPaths.perProcess("x", "/a/b") != TmpPaths.perProcess("x", "/a/c"))
    // the substitution alone is NOT injective ('_' is in the allowed
    // class) — the digest suffix must separate paths that sanitize alike
    assert(TmpPaths.sanitize("/a/b") != TmpPaths.sanitize("/a_b"))
    assert(TmpPaths.sanitize("/a/b") != TmpPaths.sanitize("/a b"))
    // …while staying deterministic per path
    assert(TmpPaths.sanitize("/a/b") == TmpPaths.sanitize("/a/b"))
    // per-process paths carry this JVM's pid
    assert(TmpPaths.perProcess("x", "/a/b")
      .endsWith(s"p${ProcessHandle.current().pid()}"))
  }

  test("TmpPaths.fresh removes whatever an earlier use left at its path") {
    val path = TmpPaths.perProcess("graft-fresh-probe", sfDir)
    val nested = java.nio.file.Paths.get(path, "a", "b")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.writeString(nested.resolve("part-0"), "stale")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_SUCCESS"), "")
    assert(TmpPaths.fresh(path) == path)
    assert(!new java.io.File(path).exists())
    // an absent path is already fresh
    assert(TmpPaths.fresh(path) == path)
  }

  test("per-process scratch is deleted when the JVM exits") {
    // a child JVM writes into its per-process path and exits normally;
    // Spark's shutdown hook must take the whole tree with it
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").toString
    val child = new ProcessBuilder(javaBin,
        "-cp", sys.props("java.class.path"),
        s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}",
        "-Xmx256m", "graft.TmpPathsExitProbe", sfDir)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream)
      .getLines().toList
    assert(child.waitFor() == 0, out.mkString("\n"))
    val written = out.collectFirst {
      case l if l.startsWith("written ") => l.stripPrefix("written ")
    }.getOrElse(fail(s"probe printed no path:\n${out.mkString("\n")}"))
    assert(written.endsWith(s"-p${child.pid()}"))
    assert(!new java.io.File(written).exists(),
      s"$written outlived its JVM")
  }

  test("fixtures live only in the memory of the JVM that builds them: " +
      "src/main has no cross-process fixture cache") {
    val offenders = srcMainHits("graft_fixtures", "fixtureVersion",
      "getOrPersistFixture", "TmpPaths.shared")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SparkEntry.queries hands out each group's own function, unwrapped") {
    Seq("cdc_ivm_view" -> operators.CdcQueries,
        "dedup_exact" -> operators.DedupQueries,
        "stream_late_data" -> operators.StreamQueries,
        "text_tfidf" -> operators.TextQueries)
      .foreach { case (name, group) =>
        assert(SparkEntry.queries(name) eq group.queries(name), name)
      }
  }

  test("shared builds have one attribution rule: src/main has no build " +
      "netting, no prewarm switch and no in-query kick") {
    val offenders =
      srcMainHits("clippedUnion", "SPARK_GRAFT_PREWARM", "Prewarm.kick")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the AQE bench knob stays a bench knob: only Bench.scala reads " +
      "SPARK_GRAFT_AQE") {
    // The benchmark disables AQE at its SF on a recorded A/B; that tuning
    // must never leak into Verify (the correctness path) or operator
    // code, where it could change graded semantics or deployment
    // defaults. Source-level pin: the env var's name appears in exactly
    // one non-test file.
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SPARK_GRAFT_AQE"))
      .map(_.toString).toList.sorted
    assert(offenders == List("src/main/scala/graft/Bench.scala"),
      s"SPARK_GRAFT_AQE must be read only by Bench, found in: $offenders")
  }

  test("CATALOG.md is complete and current: every graded query has a " +
      "describe entry and the committed file matches the generator") {
    // completeness is checked inside render (require on key-set equality);
    // byte-identity keeps the committed file from going stale — on
    // failure, run `sbt "runMain graft.CatalogGen"` and commit.
    val rendered = graft.CatalogGen.render
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("CATALOG.md"))
    assert(committed == rendered,
      "CATALOG.md is stale — regenerate with `sbt \"runMain graft.CatalogGen\"`")
  }

  test("scanPar: identical rows to scan, widened to session parallelism") {
    val plain = Tables.scan(spark, sfDir, "documents")
      .orderBy("doc_id").collect()
    val par = Tables.scanPar(spark, sfDir, "documents")
    assert(par.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(par.orderBy("doc_id").collect() === plain)
  }
}
