package graft

/** Plan-audit helper: prints the formatted physical plan for the named
  * queries (default: a representative set) so pushdown, pruning,
  * broadcasts, and whole-stage-codegen coverage can be eyeballed.
  *
  *   sbt 'runMain graft.Explain [sfDir] [query...]'
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q3_shipping_priority", "ta_speed_lag",
        "ta_asof_weather", "dd_ngram_jaccard", "ss_brute_topk", "q_decile_stats")
    // validate BEFORE paying session startup; name the valid keys
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = GraftSession.get(defaultCpus = 32)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
