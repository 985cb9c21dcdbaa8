package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-18 invariants: the DEPLOYED Θ(√K) routing tier (r17 verdict ask
  * #1 — the seven flat-assignment gate plans rewired to the two-level
  * router at the melt-measured P₁ = 4) and the machinery it rides — the
  * distributed fine codebook equals the driver generator bit for bit,
  * the routed trained/auto/probe-2 pair relations equal their former
  * flat spellings in the gate's probe-all regime (K₁ ≤ DeployedP1), the
  * recall melt's P₁ = K₁ row IS the flat baseline, and on a
  * planted-cluster corpus (ScaleGen blobs mode, ask #4) the trained
  * fine codebook beats random and routing costs nothing. */
class R18InvariantSpec extends SparkSpec {

  test("fineCodebookDf equals the driver-side generator bit for bit — " +
      "components, raw float weights, AND the kernel fine→coarse routing " +
      "— at K=200 (the distributed codebook that replaced the K-sized " +
      "driver Seq and constant-folded literal is the same codebook)") {
    graft.GraftSession.init(spark)
    val k = 200
    val k1 = SimilarityOps.coarseCountFor(k)
    val coarseFlat = SimilarityOps.cosineFlatOf(
      SimilarityOps.coarseCellsFor(k1))
    val rows = SimilarityOps.fineCodebookDf(spark, k)
      .withColumn("coarse", call_function("pq_argmin", col("fwf"),
        typedLit(coarseFlat), lit(0), lit(64)))
      .collect()
    assert(rows.length == k)
    val fine = SimilarityOps.cellsFor(k)
    val route = SimilarityOps.fineToCoarse(k, k1)
    rows.foreach { r =>
      val j = r.getLong(0).toInt
      val c = fine(j)
      val n = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
      assert(r.getSeq[Double](1) == c.map(x => x.toDouble / (2.0 * n)),
        s"fcomps drifted from the driver generator at cell $j")
      assert(r.getSeq[Float](2) == c.map(_.toFloat),
        s"raw float weights drifted at cell $j")
      assert(r.getLong(3) == route(j).toLong,
        s"kernel routing drifted from fineToCoarse at cell $j")
    }
  }

  private def pairKey(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("a_id", "b_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("the routed gate spellings equal their former flat spellings in " +
      "the probe-all regime (gate K: K1 <= DeployedP1) — auto and probe-2 " +
      "pair relations, pair for pair with bit-equal cosines") {
    graft.GraftSession.init(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    assert(SimilarityOps.coarseCountFor(
      SimilarityOps.resolveCells(emb, SimilarityOps.AutoCells))
      <= SimilarityOps.DeployedP1)
    assert(pairKey(DedupOps.nearDupPairsCellsRouted(emb)) ==
      pairKey(DedupOps.nearDupPairsCells(emb)),
      "routed auto pairs drifted from the flat spelling at gate K")
    assert(pairKey(DedupOps.nearDupPairsCellsProbe2Routed(emb)) ==
      pairKey(DedupOps.nearDupPairsCellsProbe2(emb)),
      "routed probe-2 pairs drifted from the flat spelling at gate K")
  }

  test("recall melt: the (random, P1=K1) row IS the flat probe-1 " +
      "baseline (probe-all == flat), at both gate SFs") {
    graft.GraftSession.init(spark)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = Tables.embeddings(spark, sf)
      val k1 = SimilarityOps.coarseCountFor(
        SimilarityOps.resolveCells(emb, SimilarityOps.AutoCells)).toLong
      val melt = DedupOps.nearDupRecallMelt(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      val rec = DedupOps.nearDupRecall(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(melt(("random", k1)) == rec(1L),
        s"the melt's probe-all row must equal flat probe-1 at $sf: " +
          s"${melt(("random", k1))} vs ${rec(1L)}")
    }
  }

  test("planted-cluster corpus (ScaleGen blobs): the trained fine " +
      "codebook beats random blocking, and Θ(√K) routing at the " +
      "deployed P1 costs no pair recall — the structured-data case the " +
      "isotropic gate corpora cannot show") {
    graft.GraftSession.init(spark)
    val dir = java.nio.file.Files.createTempDirectory("r18blobs").toString
    graft.ScaleGen.embeddings(spark, 2000, "blobs")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityOps.resolveCells(emb, SimilarityOps.AutoCells)
    // trained-vs-random fine blocking at the deployed occupancy, on the
    // grid's fixed 500-id sample (measured r18: trained probe-1 0.927
    // vs random 0.666; trained probe-2 1.000)
    val grid = DedupOps.nearDupRecallGridAt(spark, dir, 128L).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(grid(("trained", 1L)) > grid(("random", 1L)) + 0.15,
      s"trained fine blocking must clearly beat random on blobs: $grid")
    assert(grid(("trained", 2L)) > 0.99,
      s"trained probe-2 must keep blobs whole: $grid")
    // routing on structured data: blob-mates rank coarse cells the same
    // way, so the routed P1=2 arm loses nothing vs flat (measured
    // 0.712/0.683 vs flat 0.666)
    val melt = DedupOps.nearDupRecallMelt(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    val k1 = SimilarityOps.coarseCountFor(k).toLong
    for (cb <- Seq("random", "trained"))
      assert(melt((cb, 2L)) >= melt((cb, k1)),
        s"routing at P1=2 must cost no recall on blobs ($cb): $melt")
    // hierarchical per-bucket training (the Θ(√K) trainer): at least
    // the GLOBAL-Lloyd tier's recall on structured data (measured r18
    // against the global arm routed at DeployedP1: 0.998 vs 0.927 here;
    // 0.511 vs 0.132 at 200k — local cells fragment blobs less, and the
    // probed deployment heals bucket boundaries), with a total
    // single-cell assignment. This fixture is probe-all (K1 <=
    // DeployedP1), where the routed global arm equals the flat one, so
    // the flat global-trained relation is the comparison.
    assert(SimilarityOps.coarseCountFor(k) <= SimilarityOps.DeployedP1,
      "blob fixture must be probe-all for the flat global arm to stand in")
    def sampleRecall(pairs: DataFrame): Long =
      pairs.filter(col("a_id") < 500 && col("b_id") < 500)
        .select("a_id", "b_id")
        .join(bruteSample(emb), Seq("a_id", "b_id"), "left_semi").count()
    val hier = sampleRecall(DedupOps.nearDupPairsCellsHier(emb))
    val glob = sampleRecall(DedupOps.nearDupPairsCellsTrained(emb))
    assert(hier >= glob,
      s"hier-trained blocking must not trail global-trained on blobs: " +
        s"$hier vs $glob")
    val (k1h, k2h, cents) = SimilarityOps.hierLloydCells(
      emb.select(col("vec_id"), col("embedding")), k)
    assert(cents.nonEmpty && cents.forall { case (c, b, comps, _) =>
      b == c / k2h && b >= 0 && b < k1h && comps.size == 64 })
  }

  test("recall melt survives a trained coarse codebook with fewer than " +
      "K1 cells: each arm probes at most its own cell count") {
    graft.GraftSession.init(spark)
    val n = 2000L
    val k1 = SimilarityOps.coarseCountFor(SimilarityOps.cellCountFor(n))
    // a blobs corpus whose first K1 vectors are one planted exact
    // duplicate: Lloyd seeds K1 equal centroids, ties send every vector
    // to the lowest, and the empty cells are dropped after one iteration
    val blobs = graft.ScaleGen.embeddings(spark, n, "blobs")
    val v0 = blobs.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("meltfew").toString
    blobs.withColumn("embedding",
        when(col("vec_id") < k1, typedLit(v0)).otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    val trained = SimilarityOps.lloydCodebook(emb, k1)
    assert(trained.nonEmpty && trained.size < k1,
      s"fixture must train fewer than $k1 coarse cells, got ${trained.size}")
    val melt = DedupOps.nearDupRecallMelt(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val p1s = (Seq(2L, 4L, 8L) :+ k1.toLong).distinct
    assert(melt.keySet == (for (cb <- Seq("random", "trained"); p <- p1s) yield (cb, p)).toSet,
      s"every (codebook, P1) row must be present: ${melt.keySet}")
  }

  private def bruteSample(emb: DataFrame): DataFrame = {
    val v = emb.filter(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"),
        expr("sqrt(vec_dot(embedding, embedding))").as("nrm"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        expr("vec_dot(a.embedding, b.embedding) / (a.nrm * b.nrm)")
          .as("cosine"))
      .filter(col("cosine") >= 0.4)
      .select(col("a_id"), col("b_id"))
  }
}
