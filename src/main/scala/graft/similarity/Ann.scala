package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *   - cosine near-dup pairs, blocked on `label` with a probe-side
  *     restriction (oracle-able, linear in probes x block size)
  *   - brute-force cosine top-k for a query set (the exactness baseline)
  *   - random-hyperplane LSH bucketed top-k (the 100 TB scale path:
  *     candidates come from a 16-bit signature bucket join, not a cross
  *     join)
  *
  * Dot products use `zip_with` + `aggregate` over DOUBLE — codegen-friendly
  * built-ins, sequential accumulation, so DuckDB's loop reproduces the FP
  * result bit-for-bit.
  */
object Ann {

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Sequential-order dot product of two double arrays. Round-7: a tight
    * while-loop UDF instead of `aggregate(zip_with(...))` — Spark's
    * higher-order array functions are CodegenFallback (interpreted, one
    * closure call + allocation per ELEMENT), which made every 64-dim dot
    * cost ~128 interpreted lambda invocations in the pair-scoring hot
    * path. The UDF folds left over the same element order with the same
    * `acc + x(i)*y(i)` double arithmetic, so results are bit-identical
    * (the ann and dd_embed oracles hash-match on exactly this). Like
    * `aggregate(zip_with(...))`, it is NULL when either array is null or
    * the lengths differ (zip_with pads the shorter side with nulls). */
  private val dotUdf = udf((a: Seq[Double], b: Seq[Double]) => {
    if (a == null || b == null || a.length != b.length) null
    else {
      val n = a.length
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      java.lang.Double.valueOf(acc)
    }
  })

  private[graft] def dot(a: Column, b: Column): Column = dotUdf(a, b)

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine from a precomputed per-vector norm pair (round-7): the
    * per-PAIR `cosine` recomputes sqrt(dot(a,a)) and sqrt(dot(b,b)) for
    * every candidate pair — O(pairs) redundant dot products, since a
    * vector's norm never changes. Callers project `nrm = sqrt(dot(v,v))`
    * once per vector and pass it through; the division tree
    * dot/(nrm_a*nrm_b) is the same FP expression as `cosine`'s, on the
    * same double values, so scores stay bit-identical. */
  private def cosinePre(ab: Column, nrmA: Column, nrmB: Column): Column =
    ab / (nrmA * nrmB)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** Near-duplicate pairs with cosine >= threshold; probes are the
    * vec_id % 20 == 0 subset, candidates blocked on equal `label`. */
  def cosinePairs(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    val e = emb(spark, sfDir).select(
        col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"))) // once per vector, not per pair
    val probes = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("id_a"), col("label"), col("v").as("va"),
        col("nrm").as("nrm_a"))
    val cands = e.select(col("vec_id").as("id_b"), col("label"), col("v").as("vb"),
      col("nrm").as("nrm_b"))
    probes.join(cands, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosinePre(dot(col("va"), col("vb")), col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Brute-force cosine top-k: queries = vec_id < nQueries, ranked per query
    * by (cos desc, vec_id) for determinism. The query side is broadcast —
    * the scan of the corpus stays partition-parallel with no shuffle until
    * the per-query top-k aggregate. */
  def bruteTopK(spark: SparkSession, sfDir: String, nQueries: Int = 16, k: Int = 5): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v"))) // once per vector, not per pair
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        cosinePre(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor"), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) —
    * arithmetic only, so signatures are stable across runs/engines. */
  private def planeCoef(plane: Int, dim: Int): Double = {
    var h = 0x9E3779B97F4A7C15L * (plane * 131 + dim + 1)
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    (h.toDouble / Long.MaxValue.toDouble)
  }

  /** Deterministic Lloyd k-means codebook over the embeddings: seeded by
    * the k lowest-vec_id vectors (the same fixed codebook ivfTopK defaults
    * to), then `iters` rounds of assign (broadcast centroids, tight-loop
    * UDF) + per-cell mean (explode dims -> groupBy(cell, dim) average —
    * k*dim rows collected per round, bounded regardless of corpus size).
    * Deterministic end to end, so IVF recall over it is test-assertable. */
  def kmeansCentroids(spark: SparkSession, sfDir: String, k: Int = 16,
      iters: Int = 5): Array[(Int, Array[Double])] = {
    val e = emb(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .persist()
    var centroids: Array[(Int, Array[Double])] = e.filter(col("vec_id") < k)
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
    var it = 0
    while (it < iters) {
      val bc = e.sparkSession.sparkContext.broadcast(centroids)
      val cellOf = udf((v: Seq[Double]) => {
        var best = -1; var bestDot = Double.NegativeInfinity
        bc.value.foreach { case (cid, c) =>
          var acc = 0.0; var i = 0
          while (i < c.length) { acc += c(i) * v(i); i += 1 }
          if (acc > bestDot) { bestDot = acc; best = cid }
        }
        best
      })
      val means = e.withColumn("cell", cellOf(col("v")))
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val arr = new Array[Double](rows.length)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          cell -> arr
        }
      // SPHERICAL k-means: assignment is max dot product, so the mean must
      // be renormalized each round or centroids collapse toward the origin
      // on near-isotropic data and the argmax loses discrimination (plain
      // Lloyd measured recall 0.89 vs 0.96 here; spherical restores it).
      // Empty cells keep their previous centroid (deterministic).
      centroids = centroids.map { case (cid, c) =>
        val m = means.getOrElse(cid, c)
        val norm = StrictMath.sqrt(m.map(x => x * x).sum)
        (cid, if (norm > 0) m.map(_ / norm) else c)
      }
      it += 1
    }
    e.unpersist()
    centroids
  }

  /** IVF-style bucketed top-k: coarse quantization against `nCells`
    * centroids — by default the first nCells vectors (a fixed codebook the
    * DuckDB oracle replays exactly); pass `codebook = kmeansCentroids(...)`
    * for the trained variant (recall asserted in DedupSpec). Each vector is
    * assigned to its nearest centroid, queries probe their `nProbe` closest
    * cells. Join key = cell id, so candidate generation is a bounded-key
    * join — the inverted-file shape that survives 10^9 vectors. */
  def ivfTopK(spark: SparkSession, sfDir: String, nQueries: Int = 16, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4,
      codebook: Array[(Int, Array[Double])] = null): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val centroids: Array[(Int, Array[Double])] =
      if (codebook != null) codebook
      else e.filter(col("vec_id") < nCells)
        .collect().map(r => (r.getLong(0).toInt,
          r.getSeq[Double](1).toArray))
    val bc = spark.sparkContext.broadcast(centroids)
    val cellOf = udf((v: Seq[Double]) => {
      var best = -1; var bestDot = Double.NegativeInfinity
      bc.value.foreach { case (cid, c) =>
        var acc = 0.0; var i = 0
        while (i < c.length) { acc += c(i) * v(i); i += 1 }
        if (acc > bestDot) { bestDot = acc; best = cid }
      }
      best
    })
    val probesOf = udf((v: Seq[Double]) => {
      bc.value.map { case (cid, c) =>
        var acc = 0.0; var i = 0
        while (i < c.length) { acc += c(i) * v(i); i += 1 }
        (cid, acc)
      }.sortBy(-_._2).take(nProbe).map(_._1)
    })
    val assigned = e.withColumn("cell", cellOf(col("v")))
      .withColumn("nrm", norm(col("v"))) // once per vector, not per pair
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        norm(col("v")).as("qnrm"),
        explode(probesOf(col("v"))).as("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        cosinePre(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor"), round(col("cos"), 4).as("cos"))
  }

  val LshBits = 12
  val LshBands = 4 // 3 bits per band, OR'd — candidates share ANY band

  /** LSH-bucketed approximate top-k: 12-bit random-hyperplane signature
    * split into 4 OR'd bands of 3 bits, with query-side Hamming-1
    * multi-probe per band (Lv et al. 2007) — each query probes its own
    * band bucket plus the 3 one-bit-flip buckets, so a near neighbor is
    * missed only if every band differs by >=2 bits. Round 1's single
    * exact-bucket probe had unmeasured (poor) recall; this version's
    * recall@5 vs bruteTopK is asserted in DedupSpec and gated per-query by
    * [[lshRecall]] through the driver oracle.
    *
    * Scale note: still a bounded-key join (16 probe keys per query, 4 band
    * keys per corpus vector) — the shape that survives 10^9 vectors. The
    * (bands, bits, probe radius) triple is the recall/cost dial: this
    * fixture's embeddings are isotropic noise (top-5 cosines ~0.3, i.e.
    * ~72 deg), the hardest possible regime for angular LSH, so the wide
    * probe radius needed for high recall here admits a large candidate
    * fraction; on clustered production embeddings the same radius is far
    * more selective because the similarity gap is real. */
  def lshTopK(spark: SparkSession, sfDir: String, nQueries: Int = 16, k: Int = 5): DataFrame = {
    val dim = 64
    val planes: Array[Array[Double]] =
      Array.tabulate(LshBits, dim)((p, d) => planeCoef(p, d))
    val sigUdf = udf((v: Seq[Double]) => {
      var sig = 0
      var p = 0
      while (p < LshBits) {
        var acc = 0.0
        var i = 0
        while (i < v.length) { acc += planes(p)(i) * v(i); i += 1 }
        if (acc >= 0) sig |= (1 << p)
        p += 1
      }
      sig
    })
    val bitsPerBand = LshBits / LshBands
    val mask = (1 << bitsPerBand) - 1
    val bandCols = (0 until LshBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask)).as("bb"))
    }
    val e = emb(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("sig", sigUdf(col("v")))
      .withColumn("nrm", norm(col("v"))) // once per vector, not per pair
    val banded = e.select(col("vec_id"), col("v"), col("nrm"), col("sig"),
      explode(array(bandCols: _*)).as("b"))
      .select(col("vec_id"), col("v"), col("nrm"), col("b.band"), col("b.bb"))
    // query side probes its own band bucket + every Hamming-1 flip
    val flips = (0 until bitsPerBand).map(f => 1 << f)
    val q = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("band"),
        explode(array((lit(0) +: flips.map(lit)): _*)).as("flip"),
        col("bb").as("bb0"))
      .select(col("q_id"), col("qv"), col("qnrm"), col("band"),
        col("bb0").bitwiseXOR(col("flip")).as("bb"))
    val cand = banded.join(broadcast(q), Seq("band", "bb"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "qv", "qnrm", "vec_id", "v", "nrm")
      .dropDuplicates("q_id", "vec_id")
    val scored = cand.withColumn("cos",
      cosinePre(dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding-cosine near-duplicate CLUSTERS: connected components over
    * the [[cosinePairs]] graph (same alternating star-contraction engine as
    * the MinHash clusters — O(log diameter) rounds), labelled by the
    * component's minimum vec_id. The dedup decision a pipeline makes over
    * an embedding column: keep one canonical vector per near-dup cluster. */
  def cosineClusters(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pairs = cosinePairs(spark, sfDir, threshold)
      .select(col("id_a"), col("id_b"))
    graft.dedup.Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
  }

  /** Per-query recall@k of [[lshTopK]] against the exact [[bruteTopK]],
    * reduced to the oracle-able per-query gate `recall_ok` (recall >= 0.8,
    * i.e. >= 4 of the true top-5 surfaced). The oracle asserts TRUE for
    * every query — a hard driver-checked recall floor for the approximate
    * path. */
  def lshRecall(spark: SparkSession, sfDir: String, nQueries: Int = 16, k: Int = 5,
      minRecall: Double = 0.8): DataFrame = {
    val brute = bruteTopK(spark, sfDir, nQueries, k).select("q_id", "neighbor")
    val approx = lshTopK(spark, sfDir, nQueries, k).select("q_id", "neighbor")
    val hits = brute.join(approx, Seq("q_id", "neighbor"), "left_semi")
      .groupBy("q_id")
      .agg(count(lit(1)).as("hits"))
    brute.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("hits"), lit(0L)) >= math.ceil(minRecall * k).toLong).as("recall_ok"))
  }
}
