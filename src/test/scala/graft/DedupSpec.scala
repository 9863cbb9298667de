package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.DedupOps
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"),          // near dup of 0
    (3L, "dog lazy the over jumps fox brown quick the"),          // permutation of 0
    (4L, "completely different content about spark engines here"),
    (5L, "tiny doc"))                                             // shorter than shingle n
    .toDF("doc_id", "text")

  test("wordShingles: n-grams in order; short docs yield empty") {
    val sh = docs.filter($"doc_id" === 5L)
      .select(TextFunctions.wordShingles($"text", 3).as("g")).head().getSeq[String](0)
    assert(sh.isEmpty)
    val sh0 = docs.filter($"doc_id" === 0L)
      .select(TextFunctions.wordShingles($"text", 3).as("g")).head().getSeq[String](0)
    assert(sh0.head == "the_quick_brown" && sh0.length == 7)
  }

  test("charShingles: every start position; sub-n docs yield empty, not a descending sequence") {
    val fx = Seq((1L, "abcde"), (2L, "ab"), (3L, ""), (4L, "abc"))
      .toDF("doc_id", "text")
    val got = fx.select($"doc_id", TextFunctions.charShingles($"text", 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("abc", "bcd", "cde"))
    assert(got(2L).isEmpty && got(3L).isEmpty)
    assert(got(4L) == Seq("abc"))
  }

  test("char-n-gram LSH pairs catch the same near-dups as word shingles here") {
    val verified = DedupOps.lshPairsArrayLocal(
        DedupOps.charShingleHashes(docs, $"doc_id", $"text", 5),
        numHashes = 16, bands = 4, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val pairs = verified.map(p => (p._1, p._2))
    assert(pairs.contains((0L, 1L))) // exact dup must survive any threshold
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc stays out
    // the exact verified set: 0/1 identical, 2 differs from both in its
    // last word
    assert(verified == Set((0L, 1L, 1.0), (0L, 2L, 0.857143), (1L, 2L, 0.857143)))
  }

  test("repeatedSpans: cross-doc marks merge to maximal spans; within-doc-only repeats excluded") {
    val docs = Seq(
      (1L, "x1 x2 c1 c2 c3 c4 y1"),        // shares c1..c4 with doc 2
      (2L, "z1 c1 c2 c3 c4 z2 z3"),
      (3L, "c1 c2 c3 g1 g2 c1 c2 c3"),     // two DISJOINT shared runs
      (4L, "m m m m m m"),                 // repeats only within itself
      (5L, "d1 d2 d3")).toDF("doc_id", "text")
    val spans = DedupOps.repeatedSpans(docs, col("doc_id"), col("text"), 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: marks [2,4]+[3,5] merge to [2,5]; doc 3: c1c2c3 at 0 and 5
    // stay two spans; doc 4's self-repeats and doc 5 emit nothing
    assert(spans === Set(
      (1L, 2L, 5L, 2L), (2L, 1L, 4L, 2L),
      (3L, 0L, 2L, 1L), (3L, 5L, 7L, 1L)))
  }

  test("exactGroups finds exact duplicates only") {
    val g = DedupOps.exactGroups(docs, $"doc_id", $"text")
      .filter($"n_docs" > 1).collect()
    assert(g.length == 1 && g(0).getAs[Long]("canonical_id") == 0L
      && g(0).getAs[Long]("n_docs") == 2L)
  }

  test("wordSetGroups also catches permutations") {
    val g = DedupOps.wordSetGroups(docs, $"doc_id", $"text")
      .filter($"n_docs" > 1).collect()
    assert(g.length == 1 && g(0).getAs[Long]("n_docs") == 3L) // 0, 1, 3
  }

  test("word-shingle LSH pairs find exact + near dups above threshold, nothing else") {
    val verified = DedupOps.lshPairsArrayLocal(
        DedupOps.wordShingleHashes(docs, $"doc_id", $"text", 3),
        numHashes = 16, bands = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pairs = verified.map(p => (p._1, p._2))
    assert(pairs.contains((0L, 1L)))           // exact dup always a candidate
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup (jaccard 6/8)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // permutation ≠ sequence near-dup
    assert(verified == Set((0L, 1L, 1.0), (0L, 2L, 0.75), (1L, 2L, 0.75)))
  }

  test("minhash signature of exact dups is identical") {
    val sig = DedupOps.minHashSignatures(
      DedupOps.shingleSet(docs, $"doc_id", $"text", 3), 16)
    val rows = sig.filter($"doc_id".isin(0L, 1L)).collect()
    assert(rows.length == 2)
    val a = rows(0).toSeq.tail; val b = rows(1).toSeq.tail
    assert(a == b)
  }

  test("simhash: identical docs hash equal; 16-bit range") {
    val sh = DedupOps.simHash16(docs, $"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L) && sh(0L) == sh(3L)) // token-set based → permutation-equal
    assert(sh.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("simHashNearPairs: banded pigeonhole equals the quadratic scan") {
    val fixture = Tables.documents(spark, sf001)
    def run(banded: Boolean) =
      DedupOps.simHashNearPairs(fixture, $"doc_id", $"text",
          bits = 16, maxDist = 1, bands = 2, banded = banded)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q = run(banded = false)
    assert(q.nonEmpty) // fixture plants near-dups; empty would test nothing
    assert(run(banded = true) == q)
  }

  test("simHashNearPairs at 64 bits: 4-band pigeonhole at d<=3 equals the quadratic scan") {
    val fixture = Tables.documents(spark, sf001)
    def run(banded: Boolean) =
      DedupOps.simHashNearPairs(fixture, $"doc_id", $"text",
          bits = 64, maxDist = 3, bands = 4, banded = banded)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q = run(banded = false)
    assert(q.nonEmpty) // fixture plants near-dups; empty would test nothing
    assert(run(banded = true) == q)
    // 64-bit hash at d<=3 must be far more selective than 16-bit at d<=1
    assert(q.forall(_._3 <= 3))
  }

  test("simHashBandedPairs rejects a band count the distance bound breaks") {
    val sh = DedupOps.simHash64(docs, $"doc_id", $"text")
    intercept[IllegalArgumentException] {
      DedupOps.simHashBandedPairs(sh, bands = 3, maxDist = 3)
    }
  }

  test("cdcChunks: spans tile the doc exactly; boundaries stable under a prefix edit") {
    val rnd = new scala.util.Random(7)
    val textA = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar.toString +rnd.nextInt(10))
      .mkString(" ")
    val textB = "INSERTED PREFIX " + textA
    val docs = Seq((1L, textA), (2L, textB), (3L, "")).toDF("doc_id", "text")
    val chunks = graft.operators.Chunking.cdcChunks(docs, $"doc_id", $"text", 8, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // empty doc contributes nothing
    assert(!chunks.exists(_._1 == 3L))
    // chunks tile each doc: start at 1, contiguous, end at len
    for ((id, text) <- Seq(1L -> textA, 2L -> textB)) {
      val cs = chunks.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 1L)
      assert(cs.map(c => c._3 + c._4).zip(cs.tail.map(_._3)).forall { case (e, s) => e == s })
      assert(cs.last._3 + cs.last._4 - 1 == text.length)
      assert(cs.map(_._2).toSeq == (1L to cs.length).toSeq)
    }
    // content-defined stability: a prefix insertion may perturb chunks near
    // the edit, but the rest of A's chunk fingerprints survive verbatim in B
    val fpA = chunks.filter(_._1 == 1L).map(_._5).toSet
    val fpB = chunks.filter(_._1 == 2L).map(_._5).toSet
    assert(fpA.size >= 10, s"fixture too short to test stability (${fpA.size} chunks)")
    val lost = fpA -- fpB
    assert(lost.size <= 2,
      s"CDC boundaries not edit-stable: ${lost.size} of ${fpA.size} chunks lost")
  }

  test("incrementalDedup: index match drops, within-batch first-wins, unique keeps") {
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight ok"),
      (2L, "some indexed historical document full of other words entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight ok"), // == index 1
      (11L, "completely unrelated words about spark analytics engines here now"),
      (12L, "completely unrelated words about spark analytics engines here now"), // == 11
      (13L, "ab")) // too short for 3-gram shingles: no features, trivially keeps
      .toDF("doc_id", "text")
    def hashed(df: org.apache.spark.sql.DataFrame) =
      DedupOps.wordShingleHashes(df, $"doc_id", $"text", 3)
    def sets(h: org.apache.spark.sql.DataFrame) =
      h.select($"doc_id", array_distinct($"hs").as("gs"))
    val (oh, bh) = (hashed(old), hashed(batch))
    val got = DedupOps.incrementalDedup(
        DedupOps.bandKeysArrayLocal(oh, 16, 8), sets(oh),
        DedupOps.bandKeysArrayLocal(bh, 16, 8), sets(bh), 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(10L) == ((1L, 0L, false))) // dropped: matches the index
    assert(got(11L) == ((0L, 0L, true)))  // lower id of the batch pair: keeps
    assert(got(12L) == ((0L, 1L, false))) // higher id: drops against 11
    assert(got(13L) == ((0L, 0L, true)))
  }

  test("passageScrub: canonical occurrence survives, all other copies drop, reconstruction exact") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // w=1, m=1 makes every char its own chunk — hand-predictable:
    // 'a','b' shared by docs 1,2 → canonical in doc 1 (and only idx 1's 'a',
    // so doc 1 ALSO loses its in-doc repeat at idx 3); doc 2 empties out;
    // doc 3 shares nothing; doc 4 is empty input
    val docs = Seq((1L, "aba"), (2L, "ab"), (3L, "xy"), (4L, ""))
      .toDF("doc_id", "text")
    val got = graft.operators.Chunking.passageScrub(docs, $"doc_id", $"text", 1, 1)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got(0) == ((1L, 3L, 1L, 2L, md5hex("ab"))))
    assert(got(1) == ((2L, 2L, 2L, 0L, md5hex(""))))
    assert(got(2) == ((3L, 2L, 0L, 2L, md5hex("xy"))))
    assert(got(3) == ((4L, 0L, 0L, 0L, md5hex(""))))
  }

  test("ngramOverlap flags planted contamination, not shared vocabulary") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a quick brown cat sits under the lazy dog again and naps quietly"),
      // docs 3 and 10 share an exact 9-word passage → two 8-grams
      (3L, "prefix words then the secret shared nine word passage appears right here"),
      (10L, "benchmark holds the secret shared nine word passage appears right here"))
      .toDF("doc_id", "text")
    val got = DedupOps.ngramOverlap(
        corpus.filter($"doc_id" < 10), corpus.filter($"doc_id" >= 10),
        $"doc_id", $"text", 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(3L)._2, "doc sharing an 8-word passage must be flagged")
    assert(got(3L)._1 >= 1)
    assert(!got(1L)._2 && !got(2L)._2,
      "vocabulary-only overlap must NOT flag at 8-grams")
    assert(got.keySet == Set(1L, 2L, 3L), "zero-overlap docs must still appear")
  }

  test("lsh finds the planted near-dup pairs in testdata documents") {
    val n = Queries.all("minhash_lsh_pairs")(spark, sf001).count()
    assert(n >= 25, s"expected the ~28 planted near-dup pairs, got $n")
  }

  test("lshCandidates bucket cap: adversarial hot bucket stays linear, cluster intact") {
    // 200 near-identical docs (one shared sentence, unique trailing token
    // that vanishes from most shingles) — all 200 land in the same
    // (band, band_hash) buckets, the adversarial hot-bucket corpus
    val hot = (0L until 200L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta iota kappa v$i"))
      .toDF("doc_id", "text")
    val bands = DedupOps.bandKeysArrayLocal(
      DedupOps.wordShingleHashes(hot, $"doc_id", $"text", 3), 16, 8)
    val uncapped = DedupOps.lshCandidates(bands).count()
    val capped = DedupOps.lshCandidates(bands, maxBucket = 16)
    val cappedRows = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // linear bound: star pairs per oversized bucket ≤ members−1 (deduped
    // across bands) plus the small residual buckets' quadratic — an order
    // of magnitude under the ~19,900 uncapped quadratic pairs (measured:
    // 527 vs 19,900 ≈ 38×)
    assert(uncapped > 10000L, s"fixture not adversarial enough: $uncapped")
    assert(cappedRows.length.toLong * 10 < uncapped,
      s"cap failed to bound the hot bucket: ${cappedRows.length} of $uncapped pairs")
    assert(uncapped == 19900L && cappedRows.length == 527,
      s"hot-bucket candidate counts moved: $uncapped uncapped, ${cappedRows.length} capped")
    // the star pairs still connect every doc into ONE cluster
    val labels = DedupOps.connectedComponents(capped.toDF("d1", "d2")).collect()
      .map(r => r.getLong(1)).toSet
    assert(labels == Set(0L), s"capped candidates split the cluster: $labels")
  }

  test("connectedComponents labels chains, keeps components separate") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle
    // 10-11-12, and an isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("d1", "d2")
    val got = DedupOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents throws when the round budget is too small") {
    // path 1-2-3-4-5: the seed labels node 3 with 2, so node 5 still
    // needs more than one propagation round
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("d1", "d2")
    val ex = intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(path, maxIter = 1)
    }
    assert(ex.getMessage.contains("did not reach a fixpoint within 1 rounds"))
  }

  test("connectedComponents leaves a concurrent query's session conf and plans untouched") {
    // regression: the loop used to mutate spark.sql.shuffle.partitions
    // session-wide for its duration, so any query another thread planned
    // on the SHARED session silently ran at the loop's (tiny) partition
    // count. The loop must now size itself operator-locally only.
    val confBefore = spark.conf.get("spark.sql.shuffle.partitions")
    // a 25-node path has diameter 24 → ~24 propagation rounds, keeping
    // the loop alive long enough for the concurrent probes to overlap it
    val path = (1L until 25L).map(i => (i, i + 1)).toDF("d1", "d2")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val cc = Future(DedupOps.connectedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    var probes = 0
    while (!cc.isCompleted) {
      // the shared-session invariant: the loop never changes the conf...
      assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore,
        "connectedComponents mutated the session's shuffle-partition conf")
      // ...and a query planned RIGHT NOW still shuffles at the session
      // setting (exchange partition count read from the executed plan,
      // pre-AQE-coalesce: "Exchange hashpartitioning(x#N, <parts>)")
      val probe = Seq(1, 2, 3, 2).toDF("x").groupBy($"x").count()
      assert(probe.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        == Map(1 -> 1L, 2 -> 2L, 3 -> 1L))
      val planned = "hashpartitioning\\(x#\\d+, (\\d+)\\)".r
        .findAllMatchIn(probe.queryExecution.executedPlan.toString())
        .map(_.group(1)).toSeq
      assert(planned.nonEmpty && planned.forall(_ == confBefore),
        s"concurrent query shuffled at $planned instead of $confBefore")
      probes += 1
      Thread.sleep(20)
    }
    val labels = Await.result(cc, 1.minute)
    assert(labels.values.toSet == Set(1L), s"path must be one cluster: $labels")
    assert(probes > 0, "loop finished before any concurrent probe ran")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore)
  }

  test("canonicalPerCluster keeps one best doc per cluster, all singletons") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (20L, 20L), (21L, 20L))
      .toDF("node", "cluster_id")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 1L), (20L, 4L), (21L, 7L))
      .toDF("id", "q")
    val got = DedupOps.canonicalPerCluster(labels, docs, $"id", $"q")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // cluster 1: docs 2 and 3 tie on quality 9 → min doc_id (2) wins
    assert(got(1L) == ((1L, false)) && got(2L) == ((1L, true)) && got(3L) == ((1L, false)))
    // cluster 20: doc 21 has higher quality
    assert(got(20L) == ((20L, false)) && got(21L) == ((20L, true)))
    // unclustered doc 10 is its own canonical singleton
    assert(got(10L) == ((10L, true)))
    // exactly one canonical per cluster
    assert(got.values.groupBy(_._1).forall(_._2.count(_._2) == 1))
  }

  test("dedup_clusters groups the planted lsh pairs consistently") {
    val rows = Queries.all("dedup_clusters")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      // cluster id is a member (the min one) and sizes are consistent
      assert(members.exists(_.getAs[Long]("doc_id") == cid))
      assert(cid == members.map(_.getAs[Long]("doc_id")).min)
      assert(members.forall(_.getAs[Long]("cluster_size") == members.length))
    }
  }
}
