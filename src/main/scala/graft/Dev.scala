package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev harness (not part of the library surface): one main for the
  * timing, plan-audit and measurement loops, on [[Bench]]'s session —
  *   sbt 'runMain graft.Dev time [q…]'   time each query cold, then warm
  *                                       (no names: the historically hot set)
  *   sbt 'runMain graft.Dev plan q…'     print the executed physical plan;
  *                                       SPARK_GRAFT_EXEC=1 runs the query
  *                                       first and prints the FINAL adaptive
  *                                       plan (the only way to see AQE's
  *                                       runtime exchange/stage reuse)
  *   sbt 'runMain graft.Dev rows q…'     print each query's rows, e.g. the
  *                                       routed pair-recall melt on any
  *                                       corpus: `rows d_neardup_recall_melt`
  *   sbt 'runMain graft.Dev grid [occ…]' the near-dup recall/cost grid at
  *                                       each occupancy (default 128 512)
  * SPARK_GRAFT_SF_DIR names the data directory (required),
  * SPARK_GRAFT_CPUS the local cores (default 4, as for Bench). The
  * occ-128 grid is the oracle-gated `d_neardup_recall_grid`; other
  * occupancies change K (and with it the oracle's CTE constants), so
  * they ride this harness and the R17 spec invariants instead of the
  * gate. The 200k-vector ScaleGen corpora are
  * where `rows d_neardup_recall_melt` reads the router's operating point
  * ([[graft.ops.SimilarityOps.DeployedP1]]): the gate corpora only reach
  * P₁ ≤ K₁ ∈ {3, 4}. (`PlanDump` stays a separate main: it refuses to
  * ride an existing session.)
  */
object Dev {
  private val Usage = "usage: Dev (time [q...] | plan q... | rows q... | grid [occ...])"

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val (cmd, rest) = (args.head, args.tail.toSeq)
    require(Set("time", "plan", "rows", "grid")(cmd), Usage)
    if (cmd != "grid") {
      val unknown = rest.toSet.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the data directory"))
    val spark = GraftSession.init(
      Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, d)
    cmd match {
      case "time" =>
        val qs = if (rest.nonEmpty) rest
          else Seq("d_ngram_jaccard", "d_minhash_lsh", "d_simhash_pairs", "s_cosine_topk")
        run(q("q5_star_join")) // session warm-up, untimed
        for (name <- qs; pass <- Seq("", " (warm)")) {
          val t0 = System.nanoTime()
          run(q(name))
          println(f"[dev] ${name + pass}%-28s ${secs(t0)}%.2f s")
        }
      case "plan" =>
        val exec = sys.env.get("SPARK_GRAFT_EXEC").contains("1")
        for (name <- rest) {
          println(s"==== $name ====")
          val df = q(name)
          if (exec) run(df)
          println(df.queryExecution.executedPlan.toString.take(12000))
        }
      case "rows" =>
        for (name <- rest) {
          val t0 = System.nanoTime()
          val df = q(name)
          val rows = df.collect()
          println(f"== $name ($d, ${secs(t0)}%.1f s) ==")
          println("  " + df.columns.mkString("\t"))
          rows.foreach(r => println("  " + r.toSeq.mkString("\t")))
        }
      case "grid" =>
        val occs = if (rest.nonEmpty) rest.map(_.toLong) else Seq(128L, 512L)
        for (occ <- occs) {
          val t0 = System.nanoTime()
          val rows = ops.DedupOps.nearDupRecallGridAt(spark, d, occ).collect()
          println(f"== occ $occ (${secs(t0)}%.1f s) ==")
          rows.foreach(r => println(
            f"  ${r.getString(0)}%-8s probe=${r.getLong(1)} " +
              f"n_true=${r.getLong(2)} n_caught=${r.getLong(3)} " +
              f"recall=${r.getDouble(4)}%.3f"))
        }
    }
    spark.stop()
  }
}
