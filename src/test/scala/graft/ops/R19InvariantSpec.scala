package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-19 invariants: the literal-free routed plans and the
  * fully-distributed hierarchical trainer (r18 verdict asks #1, #3, #4,
  * #5) compute EXACTLY what the r18 spellings computed — the one-row
  * coarse-codebook relation equals the driver array bit for bit, the
  * distributed (collect-free) hier Lloyd relation equals the r18
  * driver-regroup reference bit for bit, the re-gated trained tier IS
  * the hier relation, and the routed s_triplets_auto twin equals the
  * flat-kernel miner in the gate's probe-all regime. */
class R19InvariantSpec extends SparkSpec {

  test("coarseFlatDf equals the driver-side cosineFlatOf(coarseCellsFor) " +
      "array bit for bit at K1=15 (the one-row relation that replaced " +
      "the last routed-path literal)") {
    graft.GraftSession.init(spark)
    val k1 = 15
    val rows = SimilarityOps.coarseFlatDf(spark, k1).collect()
    assert(rows.length == 1)
    val got = rows(0).getSeq[Double](0)
    val want = SimilarityOps.cosineFlatOf(
      SimilarityOps.coarseCellsFor(k1)).toSeq
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(w),
        s"cflat drifted from the driver array at index $i: $g vs $w")
    }
  }

  /** The r18 driver-regroup hier Lloyd loop, kept verbatim as the spec's
    * REFERENCE (per-iteration K×Dim collect + driver regroup) — the
    * distributed hierCellsDf must reproduce it bit for bit. */
  private def hierReference(emb: DataFrame, k: Int):
      Seq[(Long, Long, IndexedSeq[Double], Double)] = {
    val s = emb.sparkSession
    import s.implicits._
    val dim = SimilarityOps.Dim
    val kmQ = 1024L
    val kmIters = 2
    val k1 = SimilarityOps.coarseCountFor(k)
    val k2 = (k + k1 - 1) / k1
    val coarseFlat = typedLit(SimilarityOps.cosineFlatOf(
      SimilarityOps.coarseCellsFor(k1)))
    val withB = emb.select(col("vec_id"), col("embedding"),
      call_function("pq_argmin", col("embedding"), coarseFlat,
        lit(0), lit(dim)).as("bucket"))
    val wSeed = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
    var cents: Seq[(Long, Long, IndexedSeq[Double], Double)] =
      withB.withColumn("rn", row_number().over(wSeed))
        .filter(col("rn") <= k2)
        .select(col("bucket"), col("rn"), col("embedding"))
        .collect().toSeq
        .map { r =>
          val b = r.getLong(0)
          val comps = r.getSeq[Float](2).map(_.toDouble).toIndexedSeq
          (b * k2 + (r.getInt(1) - 1), b, comps,
            comps.foldLeft(0.0)((a, x) => a + x * x))
        }.sortBy(_._1)
    if (cents.isEmpty) return cents
    for (_ <- 0 until kmIters) {
      val centDf = broadcast(cents.map { case (c, b, comps, cn) =>
        (c, b, comps.toArray, cn) }.toDF("cell", "bucket", "comps", "cn"))
      val pass = withB.join(centDf, Seq("bucket"))
        .select(col("vec_id"),
          struct((col("cn") - lit(2.0) * call_function("vec_dot",
            col("embedding"), col("comps"))).as("d"),
            col("cell"), col("embedding").as("e")).as("s"))
        .groupBy("vec_id").agg(min(col("s")).as("m"))
        .select(col("m.cell").as("cell"),
          posexplode(col("m.e")).as(Seq("pos", "x")))
        .select(col("cell"), col("pos"),
          expr(s"CAST(floor(CAST(x AS DOUBLE) * ${kmQ}D) AS BIGINT)")
            .as("q"))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
      cents = pass.collect().groupBy(_.getLong(0)).toSeq.map {
        case (cell, rows) =>
          val byPos = rows.sortBy(_.getInt(1))
          val comps = byPos.map(r =>
            r.getLong(2).toDouble / (r.getLong(3) * kmQ).toDouble)
            .toIndexedSeq
          (cell, cell / k2, comps,
            comps.foldLeft(0.0)((a, x) => a + x * x))
      }.sortBy(_._1)
    }
    cents
  }

  test("the DISTRIBUTED hier trainer (hierCellsDf — no per-iteration " +
      "K-sized driver collect) equals the r18 driver-regroup reference " +
      "bit for bit on sf0.01: cells, buckets, components, norms") {
    graft.GraftSession.init(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val k = SimilarityOps.resolveCells(emb, SimilarityOps.AutoCells)
    val got = SimilarityOps.hierLloydCells(emb, k)._3
    val want = hierReference(emb, k)
    assert(got.size == want.size, s"${got.size} vs ${want.size} cells")
    got.zip(want).foreach { case ((gc, gb, gcomps, gcn), (wc, wb, wcomps, wcn)) =>
      assert(gc == wc && gb == wb, s"cell/bucket drifted: ($gc,$gb) vs ($wc,$wb)")
      assert(gcomps.size == wcomps.size)
      gcomps.zip(wcomps).zipWithIndex.foreach { case ((g, w), i) =>
        assert(java.lang.Double.doubleToLongBits(g) ==
          java.lang.Double.doubleToLongBits(w),
          s"component drifted at cell $gc pos $i: $g vs $w")
      }
      assert(java.lang.Double.doubleToLongBits(gcn) ==
        java.lang.Double.doubleToLongBits(wcn),
        s"cn drifted at cell $gc: $gcn vs $wcn")
    }
  }

  test("hierCellsDf keeps only the returned centroid relation's blocks: " +
      "the bucketed corpus and every superseded iteration are released") {
    graft.GraftSession.init(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val k = SimilarityOps.resolveCells(emb, SimilarityOps.AutoCells)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cents = SimilarityOps.hierCellsDf(emb, k)
    assert(cents.collect().nonEmpty)
    val added = sc.getPersistentRDDs.keySet -- before
    // the bucketed corpus and each of the KmIters iterations are
    // checkpointed; only the returned relation's blocks may stay
    assert(added.size == 1, s"persisted RDDs added: ${added.size}")
    added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
  }

  private def pairKey(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("a_id", "b_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("the re-gated trained tier IS the hier relation (declared r19 " +
      "re-gate onto the Θ(N·√K) trainer), and it still carries real " +
      "near-dup pairs at gate SF") {
    graft.GraftSession.init(spark)
    val d = "/root/testdata/sf0.01"
    val trained = DedupOps.queries("d_embedding_neardup_trained")(spark, d)
    val hier = DedupOps.embeddingNearDupHier(spark, d)
    val tk = pairKey(trained)
    assert(tk == pairKey(hier),
      "trained must equal hier after the declared re-gate")
    assert(tk.nonEmpty, "gate corpus must produce near-dup pairs")
  }

  test("d_embedding_neardup_trained and d_embedding_neardup_hier are " +
      "checked against the same oracle string") {
    val o = graft.SparkEntry.oracleSql
    assert(o("d_embedding_neardup_trained") == o("d_embedding_neardup_hier"))
  }

  test("s_triplets_auto (routed assignment, K ∝ N policy) equals the " +
      "flat-kernel miner at gate K — the probe-all regime where the " +
      "router provably equals the flat argmin") {
    graft.GraftSession.init(spark)
    val d = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    assert(SimilarityOps.coarseCountFor(
      SimilarityOps.resolveCells(emb, SimilarityOps.AutoCells))
      <= SimilarityOps.DeployedP1, "gate corpus must be probe-all")
    def key(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val auto = key(SimilarityOps.tripletsAuto(spark, d))
    val flat = key(SimilarityOps.tripletsFrom(emb, SimilarityOps.AutoCells)
      .orderBy("a_id"))
    assert(auto == flat,
      "routed auto triplets drifted from the flat kernel miner at gate K")
    assert(auto.nonEmpty, "gate corpus must produce triplets")
  }
}
