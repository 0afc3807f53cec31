package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.functions.TextFingerprint
import graft.similarity.Ann
import graft.text.TextQueries

/** Dedup / similarity behavior that has no SQL oracle (hash-dependent). */
class DedupSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val words =
    "the quick brown fox jumps over a lazy dog while rain falls on green hills near old stone walls".split(" ")

  test("minhash banding catches a planted near-duplicate") {
    val t1 = (words ++ words ++ words).mkString(" ") // 57 tokens
    val t2 = (words ++ words ++ words).updated(10, "XX").mkString(" ")
    val s1 = Dedup.signature(Dedup.shingles(t1))
    val s2 = Dedup.signature(Dedup.shingles(t2.split(" ").mkString(" ")))
    val j = Dedup.exactJaccard(Dedup.shingles(t1), Dedup.shingles(t2))
    assert(j > 0.8, s"planted pair shingle-jaccard $j")
    val perRow = Dedup.NumHashes / Dedup.Bands
    val bandMatch = (0 until Dedup.Bands).exists { b =>
      (0 until perRow).forall(i => s1(b * perRow + i) == s2(b * perRow + i))
    }
    assert(bandMatch, "no LSH band collision for a 0.8+ jaccard pair")
  }

  test("LSH candidate gate: measured recall on threshold-adjacent pairs meets the documented bound") {
    // The in-code candidate-gate analysis (Dedup.scala, ngramJaccard /
    // minhashLsh scaladocs) claims per-pair miss probabilities from the
    // banding formula p_hit(J) = 1 - (1 - J^r)^b with r=4, b=16 — stated
    // in prose until now (the round-5 advice: verify the numbers, don't
    // assert them). This property MEASURES the gate's recall on a seeded
    // ADVERSARIAL corpus: pairs sitting AT the declared thresholds (the
    // worst J the gate must still catch — recall is lowest there), with
    // exact set Jaccard by construction (|A|=|B|=100 shingles, |A∩B|=k
    // => J = k/(200-k)), and asserts measured recall >= the documented
    // bound minus 3 binomial sigmas.
    val rnd = new scala.util.Random(42)
    val r = Dedup.NumHashes / Dedup.Bands // 4 rows per band
    val b = Dedup.Bands // 16
    def bandsCollide(sa: Array[Long], sb: Array[Long]): Boolean = {
      val ga = Dedup.signature(sa)
      val gb = Dedup.signature(sb)
      (0 until b).exists(i => (i * r until (i + 1) * r).forall(j => ga(j) == gb(j)))
    }
    def pairAt(n: Int, k: Int): (Array[Long], Array[Long]) = {
      val shared = Array.fill(k)(rnd.nextLong())
      (shared ++ Array.fill(n - k)(rnd.nextLong()),
        shared ++ Array.fill(n - k)(rnd.nextLong()))
    }
    val trials = 2000
    // k chosen so J lands just ON the threshold: dd_minhash gates at 0.7
    // (J=83/117=0.7094), dd_ngram at 0.8 (J=89/111=0.8018)
    for ((threshold, k) <- Seq((0.7, 83), (0.8, 89))) {
      val j = k.toDouble / (200 - k)
      assert(j >= threshold && j < threshold + 0.02, s"seed pair J=$j not at threshold $threshold")
      val pHit = 1 - math.pow(1 - math.pow(j, r), b)
      val hits = (1 to trials).count { _ =>
        val (sa, sb) = pairAt(100, k)
        assert(math.abs(Dedup.exactJaccard(sa, sb) - j) < 1e-9)
        bandsCollide(sa, sb)
      }
      val recall = hits.toDouble / trials
      val sigma = math.sqrt(pHit * (1 - pHit) / trials)
      info(f"J=$j%.4f: measured recall $recall%.4f vs documented bound $pHit%.4f (3 sigma = ${3 * sigma}%.4f)")
      assert(recall >= pHit - 3 * sigma,
        f"measured recall $recall%.4f below documented bound $pHit%.4f - 3 sigma " +
          f"at J=$j%.4f — the fixed linear hash family underperforms the " +
          "banding analysis the scaladocs cite")
    }
  }

  test("minhash estimates jaccard within 0.15") {
    val t1 = (words ++ words ++ words).mkString(" ")
    val t2 = (words ++ words ++ words).updated(3, "YY").updated(20, "ZZ").mkString(" ")
    val s1 = Dedup.signature(Dedup.shingles(t1))
    val s2 = Dedup.signature(Dedup.shingles(t2))
    val est = s1.zip(s2).count(p => p._1 == p._2).toDouble / s1.length
    val exact = Dedup.exactJaccard(Dedup.shingles(t1), Dedup.shingles(t2))
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("simhash: near-identical texts land within hamming 3, disjoint far") {
    val rep = Array.fill(6)(words).flatten
    val t1 = rep.mkString(" ")
    val t2 = rep.updated(5, "qq").mkString(" ")
    val d = java.lang.Long.bitCount(Dedup.simhash64(t1) ^ Dedup.simhash64(t2))
    assert(d <= 3, s"near pair hamming $d")
    val t3 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val far = java.lang.Long.bitCount(Dedup.simhash64(t1) ^ Dedup.simhash64(t3))
    assert(far > 10, s"far pair hamming $far")
  }

  test("minhashLsh on corpus: all reported pairs meet the threshold and are unique") {
    val rows = Dedup.minhashLsh(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) >= 0.7))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("ngramJaccard: pairs meet the threshold and match a local char-5-gram reference") {
    val rows = Dedup.ngramJaccard(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) >= 0.8))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.forall(p => p._1 < p._2))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] =
      if (t.length < 5) Set(t) else (0 to t.length - 5).map(i => t.substring(i, i + 5)).toSet
    rows.foreach { r =>
      val (a, b) = (grams(docs(r.getLong(0))), grams(docs(r.getLong(1))))
      val j = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(j - r.getDouble(2)) < 5e-5,
        s"pair ${r.getLong(0)},${r.getLong(1)}: local $j vs engine ${r.getDouble(2)}")
    }
  }

  test("minhash verify stage is codegen'd: no UDF in any executed plan") {
    // round-4: the exact-Jaccard verification uses array_intersect/
    // array_union built-ins — the plan of the verify stage must show them
    // inside a WholeStageCodegen region (the "*(n)" prefix), and no scala
    // UDF node may appear anywhere in the pipeline
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Dedup.minhashLsh(spark, sfDir).collect()
      val deadline = System.currentTimeMillis() + 15000
      while (!plans.toArray.exists(_.toString.contains("array_intersect")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val all = plans.toArray.map(_.toString)
      val verify = all.filter(_.contains("array_intersect"))
      assert(verify.nonEmpty, "no executed plan contains the jaccard verify expressions")
      assert(verify.exists(_.linesIterator.exists(ln =>
          ln.contains("array_intersect") && ln.trim.matches("""^[:+\-\s]*\*\(\d+\).*"""))),
        s"verify expressions not inside WholeStageCodegen:\n${verify.head}")
      all.foreach(p => assert(!p.contains("UDF("), s"scala UDF in plan:\n$p"))
    } finally spark.listenerManager.unregister(l)
  }

  test("minhash clusters are consistent connected components of the pair graph") {
    val pairs = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.minhashClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc in a pair is labelled; endpoints of an edge share a label
    pairs.foreach { case (a, b) =>
      assert(labels.contains(a) && labels.contains(b))
      assert(labels(a) == labels(b), s"edge ($a,$b) split across clusters")
    }
    // the label is the component minimum (canonical doc)
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid min is ${members.keys.min}")
    }
  }

  test("connectedComponents: 1,000-edge path graph (diameter >> 20) converges to one cluster") {
    import spark.implicits._
    // a single chain 0-1-2-...-1000: plain min-label propagation needs 1,000
    // rounds (round 2 capped at 20 and silently returned split labels);
    // star contraction must close it in O(log n) rounds
    val pairs = (0L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 1001)
    assert(labels.map(_._1).toSet == (0L to 1000L).toSet)
    assert(labels.forall(_._2 == 0L), s"split labels: ${labels.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connectedComponents: disjoint components keep distinct min labels") {
    import spark.implicits._
    val pairs = Seq((5L, 9L), (9L, 7L), (20L, 21L), (30L, 30L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("connectedComponents: each round's count job materializes its checkpoint") {
    import spark.implicits._
    // two disjoint 125-edge paths
    val pairs = (0L until 125L).flatMap(i => Seq((i, i + 1), (1000L + i, 1001L + i))).toDF("id_a", "id_b")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sc = spark.sparkContext
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(if (e.properties.getProperty("spark.jobGroup.id") == "after-cc") "marker"
          else e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    val labels = try {
      val l = Dedup.connectedComponents(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      sc.setJobGroup("after-cc", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sites.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      l
    } finally sc.removeSparkListener(listener)
    assert(labels == ((0L to 125L).map(_ -> 0L) ++ (1000L to 1125L).map(_ -> 1000L)).toMap)
    // the call's jobs, by the name of their final stage: a job of its own
    // per checkpoint would end in a `localCheckpoint at Dedup.scala` stage
    val jobs = sites.toArray.map(_.toString).filterNot(_ == "marker")
    assert(jobs.nonEmpty)
    val checkpointJobs = jobs.count(_.startsWith("localCheckpoint at"))
    assert(checkpointJobs == 0, s"$checkpointJobs of ${jobs.length} jobs only materialize a checkpoint")
  }

  test("cosine clusters are consistent components of the cosine pair graph") {
    val pairs = Ann.cosinePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Ann.cosineClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across clusters")
    }
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid min is ${members.keys.min}")
    }
  }

  test("Ann.dot is NULL on a null or ragged vector, like aggregate(zip_with)") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val df = Seq(
      (1, Option(Seq(1.0, 2.0, 3.0)), Option(Seq(4.0, 5.0, 6.0))),
      (2, None, Option(Seq(1.0))),
      (3, Option(Seq(1.0, 2.0)), Option(Seq(1.0, 2.0, 3.0)))).toDF("id", "a", "b")
      .repartition(2) // evaluate on the executors, not folded on the driver
    val got = df.select(col("id"), Ann.dot(col("a"), col("b")),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, p) -> acc + p)"))
      .collect().map(r => r.getInt(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got(1) == ((Some(32.0), Some(32.0))))
    assert(got(2) == ((None, None)) && got(3) == ((None, None)))
  }

  test("keepTable: canonical docs commit through a snapshot and read back exactly") {
    import graft.io.TableFormat
    val dir = java.nio.file.Files.createTempDirectory("graft-keeptest").toString
    try {
    val got = Dedup.keepTable(spark, sfDir, tableDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // reference: documents minus non-canonical cluster members, straight
    // from the cluster labels (no table-format involvement)
    val labels = Dedup.minhashClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dropIds = labels.collect { case (d, c) if d != c => d }.toSet
    assert(dropIds.nonEmpty, "corpus has no near-dup clusters; test is vacuous")
    val want = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filterNot(t => dropIds(t._1)).toSet
    assert(got == want,
      s"diff: ${got.diff(want).take(3)} / ${want.diff(got).take(3)}")
    // write-path evidence: a committed snapshot whose per-bucket manifest
    // counts cover exactly the returned rows
    assert(TableFormat.currentVersion(dir).contains(1))
    assert(TableFormat.read(spark, dir).count() == got.size)
    // a re-run commits a NEW snapshot (full replace) and still reads back
    // the same rows — the idempotent-regeneration shape
    val again = Dedup.keepTable(spark, sfDir, tableDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(TableFormat.currentVersion(dir).contains(2))
    assert(again == want)
    // finally, not trailing: a failed assert must not leak the two
    // committed snapshots past the JVM (dir is not Scratch-registered)
    } finally graft.io.Scratch.deleteRecursively(dir)
  }

  test("lshTopK multi-probe recall@5 vs bruteTopK is >= 0.9 mean, >= 0.8 per query") {
    val brute = Ann.bruteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val approx = Ann.lshTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(approx.distinct.length == approx.length)
    val approxSet = approx.toSet
    val perQuery = brute.groupBy(_._1).map { case (q, hits) =>
      q -> hits.count(approxSet).toDouble / hits.length
    }
    val mean = perQuery.values.sum / perQuery.size
    assert(mean >= 0.9, s"mean recall $mean (per-query: $perQuery)")
    perQuery.foreach { case (q, r) => assert(r >= 0.8, s"query $q recall $r") }
    // the driver-facing gate mirrors this
    val gate = Ann.lshRecall(spark, sfDir).collect()
    assert(gate.length == 16 && gate.forall(_.getBoolean(1)))
  }

  test("k-means codebook IVF: deterministic training, recall at least matches the fixed codebook") {
    val brute = Ann.bruteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val cb1 = Ann.kmeansCentroids(spark, sfDir, k = 16, iters = 3)
    val cb2 = Ann.kmeansCentroids(spark, sfDir, k = 16, iters = 3)
    assert(cb1.map(_._1).sameElements(cb2.map(_._1)))
    cb1.zip(cb2).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }
    val fixed = Ann.ivfTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val trained = Ann.ivfTopK(spark, sfDir, codebook = cb1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rFixed = brute.intersect(fixed).size.toDouble / brute.size
    val rTrained = brute.intersect(trained).size.toDouble / brute.size
    info(f"ivf recall: fixed=$rFixed%.3f kmeans=$rTrained%.3f")
    assert(rTrained >= rFixed - 0.05, s"trained $rTrained much worse than fixed $rFixed")
  }

  test("ivfTopK recall: probing 1/4 of cells recovers most true neighbors") {
    val brute = Ann.bruteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall > 0.2, s"ivf recall $recall") // random vectors: cells are weak but non-trivial
  }

  test("tokenJaccard survives a 10^5-occurrence stopword: hot slice broadcast, no hot task") {
    import org.apache.spark.sql.functions._
    // 100,000 docs all sharing the stopword 'the' (plus a unique token
    // each), and 20 planted exact-duplicate pairs. Keying the
    // df-annotation join on raw `tok` would funnel all 100,040 'the'
    // occurrences into ONE reducer (and AQE skew-split structurally cannot
    // rescue it: the dfreq side is a direct aggregate output, not a
    // ShuffleQueryStage). Round-5's bounded hot-slice design must instead
    // keep hot-token rows out of every tok-keyed shuffle entirely
    // (map-side broadcast annotate + anti-join); task metrics prove no
    // single task reads the hot token's full row set.
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    def dupFrame(off: Long) = spark.range(0, 20).select(
      (col("id") + off).as("doc_id"),
      concat(lit("the dupa"), col("id"), lit(" dupb"), col("id"),
        lit(" dupc"), col("id")).as("text"),
      lit("en").as("lang"), lit("synth").as("source"))
    spark.range(0, 100000).select(
        col("id").as("doc_id"),
        concat(lit("the filler"), col("id")).as("text"),
        lit("en").as("lang"), lit("synth").as("source"))
      .unionByName(dupFrame(200000)).unionByName(dupFrame(300000))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // per-stage shuffle-read records per task: a hot spot is IMBALANCE
    // within a stage (one reducer task reading the hot token's whole row
    // set while its siblings idle), not absolute volume — AQE legitimately
    // coalesces many small partitions into fewer, bigger tasks
    val stageReads = new java.util.concurrent.ConcurrentHashMap[Int,
      java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]]()
    val taskListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && m.shuffleReadMetrics != null)
          stageReads.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]())
            .add(m.shuffleReadMetrics.recordsRead)
      }
    }
    val confKeys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = confKeys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.sparkContext.addSparkListener(taskListener)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      // -1 disables auto-broadcast: at 100 TB the raw-token vocabulary is
      // far past any broadcast cap, so the shuffled join is the plan under
      // test (the explicit broadcast of the 16 salt rows still applies);
      // small advisory size keeps AQE from coalescing the whole stage into
      // one task, which would hide any imbalance from the metrics
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      // without these two, AQE's parallelism-first coalescing (1 MB min
      // partition size) packs this test's few-MB shuffles into ONE
      // partition regardless of the small advisory size — which reads as
      // max==sum in the task metrics and is indistinguishable from a hot
      // key; forcing size-based coalescing at a small floor makes the
      // balance assertion measure the actual key distribution
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4096")

      val result = Dedup.tokenJaccard(spark, dir, 0.8)
      val got = result.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // correctness under skew: exactly the 20 planted duplicate pairs
      val want = (0L until 20L).map(i => (200000L + i, 300000L + i, 1.0)).toSet
      assert(got == want, s"diff: ${got.diff(want).take(3)} / ${want.diff(got).take(3)}")

      // listener events drain asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (stageReads.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      Thread.sleep(1000)
      import scala.jdk.CollectionConverters._
      val heavy = stageReads.asScala.toSeq.map { case (sid, l) =>
        val xs = l.asScala.map(_.longValue).toSeq
        (sid, xs.size, xs.sum, xs.max)
      }.filter { case (_, n, sum, _) => n >= 4 && sum >= 150000 }
      assert(heavy.nonEmpty, s"no heavy multi-task shuffle stage captured: ${stageReads.asScala.toMap}")
      heavy.foreach { case (sid, n, sum, max) =>
        val mean = sum.toDouble / n
        info(f"stage $sid: $n tasks, $sum records, max $max, mean $mean%.0f")
        // unsalted, the hot token put its full 100,040-row set in ONE task
        // of the tok join stage (max/mean >> 4); salted, every heavy stage
        // must be balanced
        assert(max <= 4 * mean,
          f"stage $sid skewed: max task read $max of $sum total (mean $mean%.0f)")
      }
    } finally {
      spark.sparkContext.removeSparkListener(taskListener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }


  test("splitAssign: content-hash split is deterministic, proportioned, text-pure") {
    val rows = TextQueries.splitAssign(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 500)
    val bySplit = rows.groupBy(_._3).view.mapValues(_.size).toMap
    // 90/5/5 by bucket; uniform-ish fingerprints put train in a wide band
    assert(bySplit("train") > 400, s"split sizes: $bySplit")
    assert(bySplit.getOrElse("val", 0) + bySplit.getOrElse("test", 0) < 100)
    // the bucket is a PURE function of the text (the no-leakage property):
    // recompute per doc from the scala reference fingerprint
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, bucket, split) =>
      val b = java.lang.Math.floorMod(TextFingerprint.fingerprint(docs(id)), 100L)
      assert(bucket == b, s"doc $id bucket $bucket != local $b")
      val want = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(split == want)
    }
  }

  test("text fingerprint: expression output equals scala reference") {
    val got = TextQueries.fingerprints(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
    docs.foreach { r =>
      assert(got(r.getLong(0)) == TextFingerprint.fingerprint(r.getString(1)))
    }
  }
}
