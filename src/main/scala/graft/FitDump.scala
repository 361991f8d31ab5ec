package graft

import org.apache.spark.sql.functions._

/** Regenerates `FittedArtifacts.scala` — the gate-scale (sf0.01) fitted
  * model artifacts (IVF centroids, PQ codebooks, PCA basis) that the
  * oracle SQL embeds as literals so the k-means / eigen queries replay
  * relationally in DuckDB (round-10; the LSH-sign-matrix precedent:
  * deterministic constants can live in oracle SQL as literals).
  *
  * The fits here call the SAME private[graft] entry points the declared
  * queries use ([[graft.ops.Similarity.fitCentroidsArray]],
  * [[graft.ops.Similarity.pqFitCodebooks]],
  * [[graft.ops.Embeddings.pcaBasis]]), all deterministic (md5-ordered
  * bounded samples, sequential driver-side loops, no RNG), so the
  * artifacts are bit-reproducible for fixed testdata. FittedArtifactsSpec
  * refits at sf0.01 and asserts bit-equality — the tripwire that fires
  * BEFORE the driver record does if the seed-42 testdata ever changes.
  *
  * Usage: `sbt "runMain graft.FitDump /root/testdata/sf0.01"` and write
  * stdout between the BEGIN/END markers to
  * `src/main/scala/graft/FittedArtifacts.scala`.
  */
object FitDump {
  private def d(x: Double): String = {
    val s = x.toString
    if (s.contains('.') || s.contains('E') || s.contains("Infinity") || s.contains("NaN")) s
    else s + ".0"
  }
  private def arr1(a: Seq[Double]): String =
    a.map(d).mkString("Array(", ", ", ")")
  private def arr2(a: Seq[Seq[Double]]): String =
    a.map(arr1).mkString("Array(\n    ", ",\n    ", ")")
  private def arr3(a: Seq[Seq[Seq[Double]]]): String =
    a.map(arr2).mkString("Array(\n  ", ",\n  ", ")")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // a fixed width, not the host's: the artifacts are generated alike anywhere
    val spark = GraftSession.builder("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t = graft.io.Tables(spark, sfDir)
    // the exact corpus frame shapes the declared queries build
    val c = t.embeddings.select(
      col("vec_id").as("nbr_id"),
      col("embedding").cast("array<double>").as("nbr_vec"))
    val ivf = graft.ops.Similarity
      .fitCentroidsArray(c, "nbr_id", "nbr_vec", k = 16)
    val ivf64 = graft.ops.Similarity
      .fitCentroidsArray(c, "nbr_id", "nbr_vec", k = 64)
    val cNv = t.embeddings.select(
      col("vec_id").as("nbr_id"),
      graft.ops.Similarity.unitNorm(col("embedding").cast("array<double>")).as("nv"))
    val pq = graft.ops.Similarity.pqFitCodebooks(cNv, m = 16, nCentroids = 16, fitSample = 2048)
    val basis = graft.ops.Embeddings.pcaBasis(t.embeddings, col("embedding"), k = 8)
    val whitenDiv = basis.eigenvalues.map(l => if (l > 1e-9) math.sqrt(l) else 1.0)
    println("// ---BEGIN FittedArtifacts.scala---")
    println(s"""package graft
       |
       |/** Gate-scale (sf0.01) fitted model artifacts, embedded in oracle SQL
       |  * as literals so the k-means / eigen queries replay relationally in
       |  * DuckDB. GENERATED by `runMain graft.FitDump /root/testdata/sf0.01`
       |  * -- do not edit by hand; FittedArtifactsSpec pins these to a refit.
       |  * Valid ONLY against the seed-42 sf0.01 testdata (the driver's
       |  * correctness gate scale); at other scales the declared queries
       |  * refit from the data and only rows>0 applies.
       |  */
       |object FittedArtifacts {
       |  /** 16 x 64 full-dim k-means centroids (ivfTopK / semanticDedupPairs
       |    * share this fit: same sample, same k, same loop). */
       |  val ivfCentroids: Array[Array[Double]] = ${arr2(ivf.map(_.toSeq).toSeq)}
       |
       |  /** 64 x 64 full-dim k-means centroids — d_decon_embed_ivf's coarse
       |    * quantizer (loose-τ cross-corpus blocking needs finer lists than
       |    * the k=16 knn index; same fit path, same sample, k=64). */
       |  val deconIvfCentroids: Array[Array[Double]] = ${arr2(ivf64.map(_.toSeq).toSeq)}
       |
       |  /** m=16 subspaces x 16 centroids x 4 dims over unit-normalized
       |    * vectors (pqTopK's sub-codebooks). */
       |  val pqCodebooks: Array[Array[Array[Double]]] = ${arr3(pq)}
       |
       |  /** Column means of the embedding store (PCA centering). */
       |  val pcaMean: Array[Double] = ${arr1(basis.mean.toSeq)}
       |
       |  /** k=8 principal components (rows), sign-convention pinned. */
       |  val pcaComponents: Array[Array[Double]] = ${arr2(basis.components.map(_.toSeq).toSeq)}
       |
       |  /** Whitening divisors: sqrt(eigenvalue), 1.0 where eigenvalue
       |    * <= 1e-9 (pass-through -- x/1.0 == x exactly in IEEE754). */
       |  val pcaWhitenDiv: Array[Double] = ${arr1(whitenDiv.toSeq)}
       |}""".stripMargin)
    println("// ---END FittedArtifacts.scala---")
    spark.stop()
  }
}
