package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline over the
  * `documents` table. Four families:
  *
  *   - exact:       hash-aggregate on the full text (one shuffle on the
  *                  group key; map-side partial aggregation)
  *   - token-set Jaccard with attribute blocking: SQL-oracle-able near-dup
  *   - MinHash+LSH: shingle -> minhash signature -> banded bucket join ->
  *                  verified Jaccard (the 100 TB-scale path: candidate
  *                  generation is linear in docs, not quadratic)
  *   - SimHash:     64-bit signature + pigeonhole block join for
  *                  hamming-distance candidates
  *
  * All hash functions are implemented arithmetically in the query (no
  * engine-specific hash builtins) so results are reproducible across runs.
  */
object Dedup {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Cache lifecycle: eagerly materialize the (small — anomaly pairs/labels)
    * final result into its own cache, then release the heavyweight cached
    * intermediates, so back-to-back queries in one long-lived session (the
    * Bench loop, the Verify sweep) never accumulate executor storage. The
    * surviving cache is O(reported duplicates) — the vanishing fraction by
    * construction — and lineage is kept, so an evicted block recomputes
    * correctly (just uncached). The SESSION OWNER releases these finals
    * once results are consumed (Bench and Verify call
    * `spark.catalog.clearCache()` between queries), so even the finals
    * don't accumulate across a long sweep. */
  private def materializeAndRelease(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist()
    out.count() // materialize while the intermediates are still cached
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Exact duplicate groups by full text — pre-keyed on
    * (length, rolling fingerprint) so the wide shuffle never carries
    * document text as a key: the first aggregate groups 16-byte keys with
    * map-side partials, only rows in candidate (length, fp) groups survive
    * to the second (tiny) exact-text verification aggregate. At 100 TB the
    * first exchange carries fingerprints, not the corpus. */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .withColumn("fp", graft.functions.TextFingerprint(spark, col("text")))
      .withColumn("n", length(col("text")))
    val dupKeys = d.groupBy("n", "fp")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select("n", "fp")
    // duplicate key groups join back UNHINTED: usually a vanishing fraction
    // (AQE broadcasts them at runtime), but their cardinality is
    // data-dependent — a mostly-duplicated corpus makes them ~half the
    // keyspace, where a forced broadcast would die at the cap; the exact-
    // text group then runs only on candidates (fp collisions are filtered
    // by the text equality of the group key)
    d.join(dupKeys, Seq("n", "fp"))
      .groupBy(col("text"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") > 1)
      .select("first_doc_id", "n_docs", "text")
  }

  /** Near-duplicate pairs by token-set Jaccard >= `threshold`, candidate
    * pairs blocked on (lang, n_chars) AND prefix-filtered (ppjoin-style,
    * Bayardo/Xiao et al.): every document keeps only its
    * floor((1-t)*|tokens|)+1 globally-rarest tokens as join keys — a pair
    * with Jaccard >= t provably shares a prefix token under a global token
    * order, so the filter is lossless; and because the prefix holds the
    * RAREST tokens, a stopword shared by a populous block never becomes a
    * join key. That removes the hot-key O(block^2) blowup that kills the
    * naive token join at 100 TB. The full intersection is then computed
    * only for surviving candidate pairs. */
  def tokenJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    val d = docs(spark, sfDir)
    setJaccardPairs(spark,
      d.select(col("doc_id"), col("lang"), col("n_chars"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok")),
      threshold, blockCols = Seq("lang", "n_chars"))
  }

  /** Near-duplicate pairs by CHARACTER-5-GRAM set Jaccard, blocked on
    * lang, through [[lshPairs]]. Character shingles catch near-dups that
    * whitespace tokens miss (joined/reordered words, missing spaces).
    * Gram width 5, not 3: ordinary same-language text shares most
    * trigrams (sf0.01: background pairs reach J3 ~ 0.70), while 5-grams
    * put genuine near-dups at J >= 0.8 with zero background pairs above
    * 0.5 at every test scale. Candidates come from LSH, not the token
    * query's ppjoin prefix filter: a prefix filter needs a diverse token
    * space, and this corpus has only ~2,000 distinct 5-grams across 5,000
    * docs, so even the rarest grams are shared by hundreds of documents
    * and the prefix join degenerates to ~17% of all pairs (2.1M
    * candidates, a 40 s wall). */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    lshPairs(spark, docs(spark, sfDir).select("doc_id", "lang", "text").as[(Long, String, String)],
      charShingles(_), threshold)
  }

  /** Character w-gram shingles of a text, FNV-hashed, distinct, ascending.
    * The FNV fold runs over a sliding window of the original string —
    * value-identical to `fnv1a(text.substring(i, i + w))` (FNV-1a is a
    * per-char left fold) without allocating a String per gram. Texts
    * shorter than w contribute themselves as their single gram. */
  def charShingles(text: String, w: Int = 5): Array[Long] =
    if (text.length < w) Array(fnv1a(text))
    else {
      val out = new Array[Long](text.length - w + 1)
      var i = 0
      while (i < out.length) {
        var h = 0xcbf29ce484222325L
        var k = i
        val end = i + w
        while (k < end) {
          h ^= text.charAt(k).toLong
          h *= 0x100000001b3L
          k += 1
        }
        out(i) = h
        i += 1
      }
      distinctSorted(out)
    }

  /** Sorts `hs` in place, compacts its distinct values to the front and
    * returns them: `hs` itself when all were distinct, else a copy of the
    * distinct prefix. */
  private def distinctSorted(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var m = 0
    var i = 0
    while (i < hs.length) {
      if (m == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    if (m == hs.length) hs else java.util.Arrays.copyOf(hs, m)
  }

  /** Shared set-Jaccard core over a tokenized frame (doc_id, blockCols...,
    * tok): attribute blocking on `blockCols`, lossless ppjoin prefix
    * filter on the globally-rarest tokens, skew-proof document-frequency
    * annotation, a lossless size-ratio candidate bound, and exact
    * intersection (array built-ins) only for surviving candidates.
    *
    * Skew design (round-5 — root cause of the round-4 dd_token_jaccard
    * regression): keying the df-annotation join on raw `tok` funnels every
    * occurrence of a hot stopword into one reducer, and AQE's skew-split
    * structurally cannot rescue it (the dfreq side is a direct aggregate
    * output, not a ShuffleQueryStage). Round-4's hybrid salting fixed the
    * hot spot but shuffled the FULL toks frame TWICE (inner-join
    * filtering happens at the reducer, so both the hot and the cold join
    * shuffled every row) and then ran a row_number window over the union
    * — a third full exchange plus a sort (measured 2.03 -> 3.78 s).
    * Round-5 instead bounds the HOT SLICE of the vocabulary by
    * construction: with hotDf = max(1000, nOcc/1e6), at most
    * nOcc/hotDf <= 1e6 tokens can reach that document frequency, and the
    * slice is broadcast as fixed-width 64-bit fingerprints — so the hot
    * broadcast is bounded in ROWS (<= 1e6) and BYTES (<= ~16 MB) at any
    * corpus size and any token width (unlike the raw vocabulary, which is
    * far past any cap at 100 TB; collision accounting in-line). Hot rows
    * are annotated by a map-side broadcast join and EXCLUDED from the
    * cold shuffle by a map-side broadcast anti-join, so the one remaining
    * tok-keyed shuffle provably carries no key with >= hotDf occurrences.
    * The canonical (df asc, tok) prefix order is then computed per doc by
    * ONE uniform doc_id-keyed aggregation (sort_array over the collected
    * struct list — replaces the window AND the separate sizes aggregate),
    * and the exact intersection reuses the per-doc token arrays from the
    * same aggregate (the minhashLsh verify shape — bounded-key joins, no
    * re-shuffle of the token stream). DedupSpec asserts the no-hot-spot
    * property on a 10^5-occurrence stopword via task metrics. */
  private def setJaccardPairs(spark: SparkSession, toksIn: DataFrame,
      threshold: Double, blockCols: Seq[String]): DataFrame = {
    val toks = toksIn.persist()
    val nOcc = toks.count() // materializes the cache; total occurrences
    // global document frequency -> the canonical token order (df asc, tok).
    // Partial (map-side) aggregation means even a 10^12-occurrence token
    // costs one row per map task in this shuffle.
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val hotDf = math.max(1000L, nOcc / 1000000L)
    val hot = dfreq.filter(col("df") >= hotDf) // <= nOcc/hotDf <= 1e6 rows
    // The hot slice is broadcast as 64-bit FINGERPRINTS, not raw tokens
    // (round-6, per the round-5 advice): the 1e6-key cap alone is a
    // ROW-count bound — arbitrarily wide tokens could still push a raw-
    // string broadcast to hundreds of MB per executor. (th, df) pins it at
    // 16 bytes/row, <= ~16 MB at the cap, independent of token width.
    // Collision accounting (the cost of hashing the join key): a cold
    // token colliding with a hot fingerprint inherits the hot df, which
    // perturbs only the canonical prefix ORDER (the exact intersection
    // never sees df) — per distinct token the probability is
    // <= 1e6/2^64 ~ 5e-14, the same accepted 64-bit class as the gram
    // fingerprints above. Hot-hot collisions are folded to one row
    // (max df) so the annotate join can never duplicate input rows.
    val hotFp = hot.select(xxhash64(col("tok")).as("th"), col("df"))
      .groupBy("th").agg(max("df").as("df"))
    val toksH = toks.withColumn("th", xxhash64(col("tok")))
    val hotAnnotated = toksH.join(broadcast(hotFp), "th").drop("th") // map-side
    val coldAnnotated = toksH
      .join(broadcast(hotFp.select("th")), Seq("th"), "left_anti") // hot rows never shuffle
      .drop("th")
      .join(dfreq.filter(col("df") < hotDf), "tok") // no key >= hotDf occurrences
    // ONE uniform aggregation gives the df-sorted token structs, the set
    // size, and the token array — prefix, size bound, and verify all read it
    val docAgg = hotAnnotated.unionByName(coldAnnotated)
      .groupBy(col("doc_id") +: blockCols.map(col): _*)
      .agg(
        sort_array(collect_list(struct(col("df"), col("tok")))).as("dts"),
        count(lit(1)).as("sz"))
      .persist()
    val prefixLen = (floor((lit(1.0) - threshold) * col("sz")) + 1).cast("int")
    val prefix = docAgg.select(
      ((col("doc_id") +: blockCols.map(col)) :+
        explode(slice(col("dts"), lit(1), prefixLen)).as("dt")): _*)
    val pa = prefix.select(
      (Seq(col("doc_id").as("id_a"), col("dt.tok").as("tok")) ++ blockCols.map(col)): _*)
    val pb = prefix.select(
      (Seq(col("doc_id").as("id_b"), col("dt.tok").as("tok")) ++ blockCols.map(col)): _*)
    val cand = pa.join(pb, "tok" +: blockCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // tokens are distinct per doc upstream, so the token arrays are sets
    val result = exactPairs(cand,
      docAgg.select(col("doc_id"), col("sz").as("n"), col("dts.tok").as("set")), threshold)
    materializeAndRelease(result, toks, docAgg)
  }

  // ---- MinHash + LSH ------------------------------------------------------

  val NumHashes = 64
  val Bands = 16 // 4 rows per band
  private val Prime = 2147483647L // 2^31 - 1

  /** Deterministic string hash (FNV-1a 64, arithmetic only). */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** FNV-1a fold of `s` continued from state `h` — `fnv1a(a + b)` ==
    * `fnvFold(fnvFold(seed, a), b)` since FNV-1a is a per-char left fold. */
  @inline private def fnvFold(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 3-word shingles of a text, FNV-hashed, distinct, ascending. The hash
    * folds the three words and the two joining spaces directly —
    * value-identical to `fnv1a(ws(i) + " " + ws(i+1) + " " + ws(i+2))`
    * without the two String concatenations per shingle. */
  def shingles(text: String): Array[Long] = {
    val ws = text.trim.split("\\s+")
    if (ws.length < 3) Array(fnv1a(ws.mkString(" ")))
    else {
      val out = new Array[Long](ws.length - 2)
      var i = 0
      while (i < out.length) {
        var h = 0xcbf29ce484222325L
        h = fnvFold(h, ws(i))
        h = (h ^ ' '.toLong) * 0x100000001b3L
        h = fnvFold(h, ws(i + 1))
        h = (h ^ ' '.toLong) * 0x100000001b3L
        h = fnvFold(h, ws(i + 2))
        out(i) = h
        i += 1
      }
      distinctSorted(out)
    }
  }

  /** splitmix64 finalizer — mixes the per-hash-function constants so the
    * 64 minhash functions are decorrelated (see [[signature]]). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature: h_i(x) = (a_i * x + b_i) mod p with fixed a/b,
    * where a_i/b_i are splitmix64-mixed per-function constants. Round-6:
    * the constants were previously small multiples of ONE base
    * (1103515245*(i+1) mod p), which correlates the 64 hash functions —
    * the new DedupSpec recall property MEASURED that family's candidate
    * recall at 0.943 on pairs seeded AT J=0.7 versus the 0.9907 the
    * 16x4-band analysis promises (bands only multiply miss probabilities
    * when the rows are independent). With mixed constants the measured
    * recall matches the formula (~0.988 at J=0.709, ~0.9995 at J=0.802,
    * binomial error bars in the spec) — at 100 TB that is the difference
    * between the documented miss bound and a silently 6x higher one. */
  // The per-function constants are pure functions of the (fixed) hash
  // index — round-7 hoists them out of [[signature]]'s inner loops (they
  // were re-derived per DOCUMENT: 128 mix64+mod chains per row).
  // Same values: a_j in [1, p-1], b_j in [0, p-1], splitmix64-mixed.
  private val SigA: Array[Long] =
    Array.tabulate(NumHashes)(j => ((mix64(j) % (Prime - 1)) + (Prime - 1)) % (Prime - 1) + 1)
  private val SigB: Array[Long] =
    Array.tabulate(NumHashes)(j => ((mix64(j + 1000003L) % Prime) + Prime) % Prime)

  def signature(sh: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    // loop order round-7: shingle-major, so the mod-p normalization of each
    // shingle runs ONCE (it used to run once per (shingle, hash function) —
    // 2 of the 3 integer divisions in the hot loop were re-normalizing the
    // same shingle 64 times). The set of (a_j * x_i + b_j) mod p values is
    // unchanged, and min is order-independent, so signatures are
    // bit-identical (DedupSpec's recall property and the dd_minhash/
    // dd_ngram oracles pin this).
    var i = 0
    while (i < sh.length) {
      val x = ((sh(i) % Prime) + Prime) % Prime
      var j = 0
      while (j < NumHashes) {
        val h = (SigA(j) * x + SigB(j)) % Prime
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    val sa = a.toSet; val sb = b.toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  /** Near-duplicate pairs by 3-word shingle set Jaccard over the whole
    * corpus (one block), through [[lshPairs]]. */
  def minhashLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame = {
    import spark.implicits._
    lshPairs(spark, docs(spark, sfDir).select(col("doc_id"), lit("").as("block"), col("text"))
      .as[(Long, String, String)], shingles, threshold)
  }

  /** The near-duplicate pipeline behind [[ngramJaccard]] and [[minhashLsh]]:
    * banded MinHash-LSH candidates, then exact shingle-set Jaccard.
    * `docs` is (doc_id, block, text); only documents of the same block can
    * pair, since the block is part of the band join key.
    *
    * Shingle sets and signatures are computed once and staged, because the
    * band explode and both per-candidate shingle joins read them. The band
    * explode (x16 rows) carries only (block, band, bh, id), and the shingle
    * arrays join back per candidate id, so every shuffle is on bounded keys
    * and no stage is O(n^2).
    *
    * The candidate gate is RECALL-BOUNDED, not exact: with 16 bands of 4
    * rows a pair of Jaccard J is missed with probability (1-J^4)^16, which
    * is largest at the threshold itself: ~1.2% at J = 0.7 (dd_minhash),
    * ~2e-4 at J = 0.8 (dd_ngram). So a qualifying pair CAN be missed; the
    * exact-all-pairs DuckDB oracles agree at the tested scales, which is
    * an observation, not a guarantee. DedupSpec's recall property measures
    * these numbers on 2,000 pairs seeded at each threshold, and they hold
    * only because the hash constants are splitmix-mixed (see
    * [[signature]]). Pairs that do surface are exact: the verify computes
    * the true set Jaccard with codegen'd array built-ins (both-empty sets
    * define J = 1). Shingles are 64-bit FNV hashes, so a collision
    * perturbs a pair with probability ~1e-19. */
  private def lshPairs(spark: SparkSession, docs: Dataset[(Long, String, String)],
      shingle: String => Array[Long], threshold: Double): DataFrame = {
    import spark.implicits._
    val sigs = docs.map { case (id, block, text) =>
      val sh = shingle(text)
      (id, block, sh, sh.length, signature(sh))
    }.toDF("doc_id", "block", "shingles", "n", "sig").persist()
    val perRow = NumHashes / Bands
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * perRow + 1, perRow)).as("bh"))
    }
    val banded = sigs.select(col("doc_id"), col("block"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("block"), col("bb.band"), col("bb.bh"))
    val l = banded.select(col("block"), col("band"), col("bh"), col("doc_id").as("id_a"))
    val r = banded.select(col("block"), col("band"), col("bh"), col("doc_id").as("id_b"))
    val cand = l.join(r, Seq("block", "band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val result = exactPairs(cand, sigs.select(col("doc_id"), col("n"), col("shingles").as("set")),
      threshold)
    materializeAndRelease(result, sigs)
  }

  /** The candidate pairs (id_a, id_b) whose exact set Jaccard is at least
    * `threshold`, as (id_a, id_b, jaccard rounded to 4 places). `sets` is
    * one (doc_id, n, set) row per document, where `set` holds distinct
    * values and `n` is its size; two empty sets have J = 1. The per-doc
    * rows join back per candidate id (bounded keys), and the verify uses
    * only codegen'd built-ins. */
  private def exactPairs(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    def side(s: String) =
      sets.select(col("doc_id").as(s"id_$s"), col("n").as(s"n_$s"), col("set").as(s"set_$s"))
    // lossless size-ratio bound: J <= min/max, and both are the same
    // correctly-rounded division, so no pair with J >= t is dropped; two
    // empty sets pass the guard instead of dividing 0 by 0
    val (lo, hi) = (least(col("n_a"), col("n_b")), greatest(col("n_a"), col("n_b")))
    // distinct sets: |A u B| = |A| + |B| - |A n B|
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    val jac = when(hi === 0, lit(1.0))
      .otherwise(inter.cast("double") / (col("n_a") + col("n_b") - inter))
    cand.join(side("a"), "id_a").join(side("b"), "id_b")
      .filter(hi === 0 || lo.cast("double") / hi >= threshold)
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Shared materialization of the verified MinHash near-dup PAIR SET:
    * four driver queries (dd_minhash, dd_cluster, dd_contaminate, dd_keep)
    * consume the SAME pair graph, so at 100 TB you run the signature +
    * banding + verify pass ONCE, write the (tiny — O(reported duplicates))
    * pair table, and let every downstream step read it. The first call per
    * (JVM, sfDir, threshold) writes the [[minhashLsh]] result to a staged
    * scratch parquet ([[graft.io.Scratch.staged]]); later calls scan it.
    * Bench books the build cost as its own "dd_pairs_materialize" entry.
    * Assumes the input at `sfDir` is immutable for the JVM lifetime. */
  def verifiedPairsShared(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val dir = graft.io.Scratch.staged((sfDir, threshold), "graft-minhash-pairs") { d =>
      val pairs = minhashLsh(spark, sfDir, threshold)
      try pairs.write.mode("overwrite").parquet(d)
      finally pairs.unpersist(false)
    }
    spark.read.parquet(dir)
  }

  /** Cross-split near-duplicate CONTAMINATION: verified MinHash near-dup
    * pairs that straddle an ID-BASED train/test boundary (test =
    * doc_id % 10 == 0) — the leakage an id/positional split admits and
    * that the content-hash split ([[graft.text.TextQueries.splitAssign]]) plus
    * canonical-doc dedup ([[minhashClusters]]) exist to prevent. Emits the
    * leaked pair, its jaccard, and which doc sits in the test split. */
  def contamination(spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame = {
    val testA = col("id_a") % 10 === 0
    val testB = col("id_b") % 10 === 0
    verifiedPairsShared(spark, sfDir, threshold)
      .filter(testA =!= testB)
      .select(col("id_a"), col("id_b"), col("jaccard"),
        when(testA, col("id_a")).otherwise(col("id_b")).as("test_doc"))
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * MinHash-LSH pair graph, keyed by the component's minimum doc_id — the
    * step a dedup pipeline actually keeps ("one canonical doc per cluster").
    * Deterministic, so the DuckDB oracle replays it as a recursive
    * transitive closure. */
  def minhashClusters(spark: SparkSession, sfDir: String, threshold: Double = 0.7): DataFrame =
    connectedComponents(
      verifiedPairsShared(spark, sfDir, threshold).select("id_a", "id_b"))

  /** The dedup pipeline's actual OUTPUT — the "keep" table: one canonical
    * document per verified near-dup cluster (the cluster's minimum doc_id,
    * [[minhashClusters]]' label) plus every unclustered document; i.e.
    * `documents` minus non-canonical cluster members. Materialized through
    * the Iceberg-shaped [[graft.io.TableFormat]] seam (bucket-partitioned
    * snapshot commit) and read BACK from the committed snapshot, so the
    * driver oracle validates the full write -> snapshot -> read lifecycle,
    * not just the plan. The anti-join is UNHINTED: duplicate cardinality
    * is data-dependent (a mostly-duplicated corpus makes the drop side
    * huge), so AQE picks broadcast only when it is actually small. */
  def keepTable(spark: SparkSession, sfDir: String, threshold: Double = 0.7,
      tableDir: Option[String] = None): DataFrame = {
    val clusters = minhashClusters(spark, sfDir, threshold)
    val drop = clusters.filter(col("cluster_id") =!= col("doc_id")).select("doc_id")
    val keep = docs(spark, sfDir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        pmod(col("doc_id"), lit(16)).as("bucket"))
    // With no explicit tableDir the table dir is staged once per
    // (sfDir, threshold), so repeated calls (Bench's warmup and sweep
    // passes) reuse one dir. Each call still runs the full commit ->
    // snapshot -> read lifecycle (the re-commit is a new snapshot version;
    // that lifecycle IS what the timed dd_keep entry measures), then
    // expires superseded snapshots so only the current keep table's bytes
    // persist. Explicit tableDir callers keep full snapshot history.
    val table = tableDir.getOrElse(
      graft.io.Scratch.staged((sfDir, threshold), "graft-keep")(_ => ()))
    graft.io.TableFormat.commit(keep, table, "bucket")
    if (tableDir.isEmpty) graft.io.TableFormat.expireSnapshots(table, keep = 1)
    clusters.unpersist(false)
    graft.io.TableFormat.read(spark, table).select("doc_id", "lang", "n_chars")
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * star operations halve the distance to the component minimum each
    * round, so convergence is O(log diameter) — a pathological long-chain
    * duplicate topology (diameter >> 20, where round-2's plain min-label
    * propagation silently returned split clusters) converges in ~log2(n)
    * rounds (asserted on a 1,000-edge path graph in DedupSpec). Every
    * per-round shuffle is keyed on vertex ids with map-side combine; the
    * edge set shrinks monotonically toward the star fixed point.
    *
    * Input: undirected edge pairs (id_a, id_b); output one row per distinct
    * endpoint: (doc_id, cluster_id = min doc_id of its component). Throws
    * (loudly, per the round-2 advice) instead of returning non-converged
    * labels if the cap is ever hit — at 50 alternating rounds that would
    * take a component of depth ~2^50. */
  def connectedComponents(pairsIn: DataFrame): DataFrame = {
    // the input pair frame feeds TWO branches (vertex set + canonical edge
    // set); round-7 persists it so an expensive upstream derivation (e.g.
    // dd_embed_cluster's blocked-cosine pair join) is evaluated once, not
    // once per branch. Released as soon as both branches are materialized.
    val pairs = pairsIn.persist()
    val vertices = pairs.select(col("id_a").as("v"))
      .union(pairs.select(col("id_b").as("v")))
      .distinct().persist()
    vertices.count()
    // canonical directed edge (larger -> smaller); self-loops dropped.
    // localCheckpoint TRUNCATES the logical plan: a plain persist() leaves
    // every round's plan nested ~6x inside the next round's, so analysis
    // cost grows exponentially with the iterations (this loop hung around
    // round 8 of a path graph before the truncation). It is lazy, filled by
    // the count() that follows, in that job. At production scale the same
    // call becomes a reliable checkpoint to the cluster checkpoint dir;
    // blocks here are O(edges) and shrink per round.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    var prevCount = edges.count()
    pairs.unpersist(false) // both consumers materialized
    var converged = false
    var iter = 0
    val MaxIters = 50
    while (!converged && iter < MaxIters) {
      // large-star: every vertex u connects each strictly LARGER neighbour
      // to the minimum of u's closed neighbourhood.
      // One explicit repartition on src serves BOTH consumers (guide §2.4):
      // the min-aggregate and the annotate join each require hash(src), so
      // without it the undirected frame — the round's largest — was
      // exchanged twice per round (once into the partial agg, once for the
      // join probe side); established once, both reuse it and the
      // per-round unique-exchange count drops 4 → 3.
      val und = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
      val minsL = und.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // NOT distinct'd (round-7): its two consumers tolerate duplicates —
      // minsS is a min aggregate, and `next` ends in its own distinct —
      // so the extra exchange bought nothing. Projection collisions
      // (different (src,dst) mapping to the same (dst,m)) are rare and
      // cost only slightly larger intermediates; the per-round shuffle
      // count drops from 5 to 4.
      val large = und.join(minsL, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
      // small-star: every vertex u connects itself and all its SMALLER
      // neighbours to the minimum among them
      val minsS = large.groupBy("src").agg(min(col("dst")).as("m"))
      val next = large.join(minsS, "src")
        .select(col("dst").as("a"), col("m").as("b")) // smaller neighbours -> min
        .union(minsS.select(col("src").as("a"), col("m").as("b"))) // u itself -> min
        .select(greatest(col("a"), col("b")).as("src"), least(col("a"), col("b")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)
      val nextCount = next.count()
      // both sides are canonical DISTINCT sets: next ⊆ edges (one anti-join)
      // plus equal counts ⇔ set equality — exact, one job cheaper than the
      // symmetric-difference check
      converged = nextCount == prevCount && next.except(edges).isEmpty
      edges = next
      prevCount = nextCount
      iter += 1
    }
    if (!converged) {
      vertices.unpersist(false)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxIters star-contraction rounds")
    }
    // fixed point = disjoint stars centred on each component minimum:
    // every non-root edge is (member, root); roots label themselves
    val labels = edges.groupBy(col("src").as("doc_id")).agg(min(col("dst")).as("cluster_id"))
    val out = vertices.join(labels, vertices("v") === labels("doc_id"), "left")
      .select(col("v").as("doc_id"), coalesce(col("cluster_id"), col("v")).as("cluster_id"))
    materializeAndRelease(out, vertices) // checkpointed edge blocks are GC-reclaimed
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over the token multiset. */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    text.trim.split("\\s+").foreach { w =>
      val h = fnv1a(w)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (acc(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, candidates via
    * the pigeonhole principle: split the 64-bit signature into 4 x 16-bit
    * blocks; any pair within distance 3 shares at least one exact block.
    * Join key = (block index, block value) — again no O(n^2) stage. */
  def simhashPairs(spark: SparkSession, sfDir: String, maxDist: Int = 3): DataFrame = {
    import spark.implicits._
    val d = docs(spark, sfDir).select("doc_id", "text").as[(Long, String)]
    val sigs = d.map { case (id, t) => (id, simhash64(t)) }.toDF("doc_id", "sig")
    val blocks = (0 until 4).map(i =>
      struct(lit(i).as("blk"), shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("bv")))
    val exploded = sigs.select(col("doc_id"), col("sig"), explode(array(blocks: _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.blk"), col("b.bv"))
    val l = exploded.select(col("blk"), col("bv"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val r = exploded.select(col("blk"), col("bv"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("blk", "bv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }
}
