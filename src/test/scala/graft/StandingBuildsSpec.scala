package graft

/** Each standing pipeline has its own cache tag: run alone (prewarm off,
  * graded cache cleared), a query builds its own pipeline and none of
  * its siblings'. */
class StandingBuildsSpec extends SparkSpec {

  private val families = Seq(
    Seq("cdc:ivm:view", "cdc:ivm:minmax", "cdc:ivm:join", "cdc:ivm:bkt"),
    Seq("cdc:standing:upsert", "cdc:standing:warehouse",
      "cdc:standing:txnevict"),
    Seq("stream:late", "stream:session", "stream:join"))

  private val owner = Seq(
    "cdc_ivm_view" -> "cdc:ivm:view",
    "cdc_ivm_minmax" -> "cdc:ivm:minmax",
    "cdc_ivm_join_view" -> "cdc:ivm:join",
    "cdc_ivm_join_bucketed" -> "cdc:ivm:bkt",
    "cdc_sink_upsert" -> "cdc:standing:upsert",
    "cdc_sink_warehouse" -> "cdc:standing:warehouse",
    "cdc_txn_apply_evict" -> "cdc:standing:txnevict",
    "stream_late_data" -> "stream:late",
    "stream_append_mode" -> "stream:late",
    "stream_session_live" -> "stream:session",
    "stream_join_live" -> "stream:join")

  owner.foreach { case (query, own) =>
    test(s"$query builds $own and no sibling pipeline") {
      BoundedDfCache.clearGraded()
      BoundedDfCache.drainBuilds()
      SparkEntry.queries(query)(spark, sfDir).count()
      val built = BoundedDfCache.drainBuilds().map(_.tag.stripSuffix(s":$sfDir"))
      assert(built.count(_ == own) === 1, built)
      val siblings = families.find(_.contains(own)).get.filterNot(_ == own)
      assert(built.intersect(siblings).isEmpty, built)
    }
  }
}
