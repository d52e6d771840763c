package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** [[Sessions.scoped]] keeps a pipeline's conf, its stream and its sink
  * view on the clone; the parent session never sees them, and the
  * clone's streaming listener bus leaves with the loan. */
class SessionsSpec extends SparkSpec {

  private val width = "spark.sql.shuffle.partitions"
  private val absent = "graft.test.sessions.absent"

  test("the parent keeps its own conf while a scoped clone is in use") {
    val before = spark.conf.get(width)
    Sessions.scoped(spark, width -> "3", absent -> "x") { c =>
      assert(c.conf.get(width) === "3")
      assert(c.conf.get(absent) === "x")
      assert(spark.conf.get(width) === before)
      assert(spark.conf.getOption(absent).isEmpty)
    }
  }

  test("a stream started on a scoped clone runs at the clone's width, " +
    "and its memory sink lives in the clone only") {
    import spark.implicits._
    Sessions.scoped(spark, width -> "3") { c =>
      val in = MemoryStream[Long](c)
      val q = in.toDS().groupBy((col("value") % 5).as("k")).count()
        .writeStream.format("memory").queryName("graft_sessions_sink")
        .outputMode(OutputMode.Complete).start()
      in.addData(1L to 20L)
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.map(_.numShufflePartitions).toSeq === Seq(3L))
      assert(ops.map(_.numStateStoreInstances).toSeq === Seq(3))
      assert(spark.conf.get(width) === "4")
      assert(c.table("graft_sessions_sink").count() === 5)
      assert(c.catalog.tableExists("graft_sessions_sink"))
      assert(!spark.catalog.tableExists("graft_sessions_sink"))
    }
  }

  test("a clone's streaming listener bus leaves the shared bus when its " +
    "loan ends, and a still-running clone keeps its own") {
    import spark.implicits._
    def buses = Shim.streamingBusCount(spark)
    def run(c: SparkSession, name: String): StreamingQuery = {
      val in = MemoryStream[Long](c)
      val q = in.toDS().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      in.addData(1L to 3L)
      q.processAllAvailable()
      q
    }
    val start = buses
    val outer = Sessions.scoped(spark, width -> "3") { a =>
      // a's stream is still running while b's runs and stops
      val qa = run(a, "graft_sessions_a")
      assert(buses === start + 1)
      Sessions.scoped(spark, width -> "3") { b =>
        run(b, "graft_sessions_b").stop()
      }
      assert(buses === start + 1)
      assert(qa.isActive)
      qa
    }
    assert(!outer.isActive)
    assert(buses === start)
  }

  test("only Sessions builds a session or writes a session's conf " +
    "in src/main") {
    def filesWith(needle: String): Set[String] = {
      val root = Paths.get("src/main")
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map((p: Path) => root.relativize(p).toString).toSet
      finally walk.close()
    }
    assert(filesWith("SparkSession.builder") ===
      Set("scala/graft/Sessions.scala"))
    // Tables.scan's NANOS retry handles outside input and stays
    assert(filesWith(".conf.set(") ===
      Set("scala/graft/Sessions.scala", "scala/graft/sources/Tables.scala"))
  }
}
