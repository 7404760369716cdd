package graft

/** Dev tool (test scope — ships in no jar): A/B the rank operator
  * on/off per affected query in ONE JVM (session-conf lever, BenchCore
  * methodology; `spark.graft.rank.enabled` flips grouped and zero-key
  * rankings together). Results recorded in PLANS.md ("GroupedRank
  * A/B", r15); run via `sbt "Test/runMain graft.ScratchGR"`. */
object ScratchGR {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    BenchCore.initBaseline(spark)
    val names = Seq("d16_effective_tokens", "e23_conversion_delay", "m11_epoch_shuffle",
      "q23_spend_deciles", "q27_mann_whitney", "s14_quantiles", "s19_anomaly",
      "s30_rank_corr", "s48_fleet_percentile", "t20_quality_buckets", "t21_bucket_sample")
    for (name <- names) {
      spark.conf.set(graft.plans.GroupedRankRewrite.ConfKey, "true")
      val on = BenchCore.measure(spark, sfDir, SparkEntry.queries(name))
      spark.conf.set(graft.plans.GroupedRankRewrite.ConfKey, "false")
      val off = BenchCore.measure(spark, sfDir, SparkEntry.queries(name))
      println(f"GRAB $name on=$on%.3f off=$off%.3f ratio=${on / off}%.2f")
    }
    spark.stop()
  }
}
