package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence artifact of the optimization rounds (`plans/r16/...`).
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <name[,name...]>
  * [suffix]. Session mirrors the bench config (width 8, AQE off) so the
  * dumped plans are the benchmarked plans. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = if (args.length > 3) args(3) else ""
    val spark = graft.Sessions.local(8, 8, aqe = Some(false))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        df.explain("formatted")
      }
      Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), buf.toString("UTF-8"))
      System.err.println(s"[plandump] wrote $outDir/$n$suffix.txt")
    }
    spark.stop()
  }
}
