package graft

import java.util.concurrent.atomic.AtomicInteger

/** The start-up build phase ([[Prewarm.run]]) on substituted tasks: it
  * blocks until every task has finished, a failing task is logged and
  * does not stop the others, and at most [[Prewarm.poolWidth]] tasks run
  * at once. */
class PrewarmSpec extends SparkSpec {

  /** Tasks that each hold a pool thread for 200 ms, counting how many
    * finished and the most that ran at once. */
  private class Sleepers {
    val done, running, peak = new AtomicInteger
    def task(label: String): Prewarm.Task = Prewarm.Task(label, 1.0, (_, _) => {
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => a max b)
      try Thread.sleep(200)
      finally running.decrementAndGet()
      done.incrementAndGet()
    })
  }

  test("run returns only after every task has finished") {
    val ts = new Sleepers
    Prewarm.run(spark, sfDir, (1 to 5).map(i => ts.task(s"t$i")))
    assert(ts.done.get() == 5)
  }

  test("a throwing task is logged and the other tasks still complete") {
    val ts = new Sleepers
    val boom = Prewarm.Task("boom", 9.0, (_, _) => sys.error("no build"))
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Prewarm.run(spark, sfDir,
      boom +: (1 to 3).map(i => ts.task(s"t$i")))
    finally System.setErr(saved)
    assert(ts.done.get() == 3)
    assert(err.toString.contains("[prewarm] boom failed"), err.toString)
  }

  test("no more than poolWidth tasks run at once") {
    val width = Prewarm.poolWidth(spark)
    val ts = new Sleepers
    Prewarm.run(spark, sfDir, (1 to 3 * width).map(i => ts.task(s"t$i")))
    assert(ts.done.get() == 3 * width)
    assert(ts.peak.get() <= width)
    assert(ts.peak.get() > 1, "tasks never ran side by side")
  }
}
