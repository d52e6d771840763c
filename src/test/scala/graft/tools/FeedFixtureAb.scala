package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B harness for the feed-fixture batch synthesis: times the OLD form
  * (global single-partition ntile) against the NEW two-phase form on the
  * same session, and dumps both physical plans. Test-scoped — a
  * measurement tool, not in the shipped surface.
  * Usage: Test/runMain graft.operators.FeedFixtureAb [sfDir] [plansDir]
  * (session mirrors the sf1 sweep protocol: local[32], width 32, AQE). */
object FeedFixtureAb {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val plansDir = if (args.length > 1) args(1) else ""
    val s = graft.Sessions.local(32, 32, aqe = Some(true))

    def slice(name: String): DataFrame = name match {
      case "late" => graft.sources.Tables.scan(s, sfDir, "events")
        .filter(col("event_id") % 8 === 0)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("event_type"))
      case "sess" => graft.sources.Tables.scan(s, sfDir, "events")
        .filter(col("event_id") % 4 === 1)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      case "join" => graft.sources.Tables.scan(s, sfDir, "events")
        .filter(col("event_id") % 8 === 2 || col("event_id") % 8 === 6)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), (col("event_id") % 8 === 2).as("is_left"))
    }
    val ks = Map("late" -> 4, "sess" -> 5, "join" -> 3)

    def oldForm(name: String): DataFrame = slice(name).withColumn("batch",
      ntile(ks(name)).over(Window.orderBy(col("ts"), col("event_id"))) - 1)
    def newForm(name: String): DataFrame =
      StreamQueries.twoPhaseNtile0(slice(name), ks(name))
        .withColumnRenamed("_tile0", "batch")

    def time(label: String, df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[feed-ab] $label: $sec%.2f s")
      sec
    }
    def dump(path: String, df: DataFrame): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        df.explain("formatted")
      }
      Files.writeString(Paths.get(path), buf.toString("UTF-8"))
    }

    // warm the events scan once so neither side pays first-read I/O
    graft.sources.Tables.scan(s, sfDir, "events").count()
    Seq("sess", "join", "late").foreach { n =>
      time(s"$n OLD  (global ntile)", oldForm(n))
      time(s"$n NEW  (two-phase)   ", newForm(n))
      if (plansDir.nonEmpty) {
        dump(s"$plansDir/streamfeed_${n}_fixture_before.txt", oldForm(n))
        dump(s"$plansDir/streamfeed_${n}_fixture_after.txt", newForm(n))
      }
    }
    s.stop()
  }
}
