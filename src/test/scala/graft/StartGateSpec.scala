package graft

/** [[StartGate.withConf]] sets its keys only for the gated start: every
  * previous value comes back afterwards, a key that had no value is
  * unset again, and both hold when the start throws. */
class StartGateSpec extends SparkSpec {

  private val set = "spark.sql.shuffle.partitions"
  private val absent = "graft.test.startgate.absent"

  private def check(start: => Unit): Unit = {
    val before = spark.conf.get(set)
    spark.conf.unset(absent)
    start
    assert(spark.conf.get(set) === before)
    assert(spark.conf.getOption(absent).isEmpty)
  }

  test("the gated start sees the new values; the old ones come back") {
    check {
      val seen = StartGate.withConf(spark, set -> "3", absent -> "x") {
        (spark.conf.get(set), spark.conf.get(absent))
      }
      assert(seen === (("3", "x")))
    }
  }

  test("a throwing start still restores and unsets") {
    check {
      val e = intercept[IllegalStateException] {
        StartGate.withConf(spark, set -> "3", absent -> "x") {
          throw new IllegalStateException("start failed")
        }
      }
      assert(e.getMessage === "start failed")
    }
  }
}
