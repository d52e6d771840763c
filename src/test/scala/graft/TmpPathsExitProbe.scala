package graft

/** Child-JVM half of InfraSpec's exit-cleanup test: fills a fresh
  * per-process scratch path, prints it and exits normally. Usage:
  * `TmpPathsExitProbe <corpus dir>`. */
object TmpPathsExitProbe {
  def main(args: Array[String]): Unit = {
    val path = TmpPaths.fresh(TmpPaths.perProcess("graft-exit-probe", args(0)))
    val nested = java.nio.file.Paths.get(path, "nested")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.writeString(nested.resolve("part-0"), "x")
    require(new java.io.File(path).isDirectory)
    println(s"written $path")
  }
}
