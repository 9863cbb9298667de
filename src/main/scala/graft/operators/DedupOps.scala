package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document-deduplication operators for the training-data pipeline surface:
  * exact (hash groupBy), word-set (order-insensitive exact), MinHash+LSH
  * (banded near-dup), SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (100 TB):
  *  - exact/word-set dedup: one hash-shuffle on a 128-bit fingerprint —
  *    the canonical map-side-combinable groupBy.
  *  - MinHash+LSH has one path, row-local: each doc's hashed features
  *    ride in its row (`wordShingleHashes` / `charShingleHashes`), and
  *    one codegen'd kernel per doc folds all k permutation minima into
  *    its band keys (`bandKeys`) — no explode, no signature aggregate.
  *  - LSH banding: candidate generation is a self-equi-join on
  *    (band, band_hash) — a shuffle join on an 8-byte key whose fan-out
  *    is controlled by band width; never an all-pairs product.
  *  - verification: exact Jaccard only over candidate pairs, by
  *    array_intersect of the two docs' feature sets.
  *
  * Feature hashes and the permutation family are md5-prefix and modular
  * arithmetic, so the "random permutations" are deterministic and
  * engine-portable (same values in the DuckDB oracle).
  */
object DedupOps {

  /** Exact duplicate groups by canonical-text fingerprint: one row per
    * distinct fingerprint with its canonical (min) id and multiplicity. */
  def exactGroups(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(textCol).as("fp"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Word-set duplicate groups (order-insensitive exact dedup). */
  def wordSetGroups(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.groupBy(TextFunctions.wordSetFingerprint(textCol).as("fp"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Raw (id, shingle) pairs, duplicates included — NO shuffle. Sufficient
    * for MinHash signatures: min over a multiset equals min over its set,
    * so the distinct's full-relation shuffle would be pure waste there. */
  def shingleBag(docs: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    // tokens materialized in their own projection: the shingling lambda
    // must reference a bound column, not re-tokenize per element (see
    // TextFunctions.shinglesOf perf note).
    // FanOut first: tokenize + shingle + explode (and any partial
    // aggregate a consumer fuses behind them) otherwise run inside the
    // scan stage — one task on a single-row-group input (r15 profile:
    // 0.7–0.9 s serial per consumer at sf0.1).
    FanOut.bySize(docs.select(idCol.as("doc_id"), textCol.as("t")),
        col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("t")).as("ws"))
      .select(col("doc_id"), explode(TextFunctions.shinglesOf(col("ws"), n)).as("g"))

  /** Distinct (id, shingle) pairs — needed where set semantics matter
    * (Jaccard sizes and intersections). Costs a shuffle; prefer
    * `shingleBag` when duplicates are harmless. */
  def shingleSet(docs: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    shingleBag(docs, idCol, textCol, n).distinct()

  /** MinHash permutation family h_i(x) = (a_i * x + b_i) mod P over a
    * 40-bit base hash x = int(md5(shingle)[0:10 hex]). ONE md5 per shingle
    * row (not one per permutation — 16× fewer digests) and the min-agg
    * compares longs, not hex strings. Constants are engine-portable
    * arithmetic so the DuckDB oracle reproduces them bit-for-bit:
    * a_i < 2^20 and x < 2^40 keep a_i*x + b_i < 2^61, inside BIGINT
    * (and Spark ANSI) range in both engines. */
  val MinHashP: Long = 1000000007L
  def mhA(i: Int): Long = (((i + 1) * 0x9E3779B1L) % 1048573L) | 1L
  def mhB(i: Int): Long = ((i + 1) * 0x85EBCA77L) % MinHashP

  /** 40-bit numeric base hash of a shingle (first 10 md5 hex digits). */
  def shingleHash40(g: Column): Column =
    conv(substring(md5(g), 1, 10), 16, 10).cast("long")

  /** 60-bit md5-prefix feature hash — for gates that carry whole feature
    * SETS through a shuffle (prefix_filter_jaccard's verify join):
    * 8-byte longs instead of ~25-byte shingle strings cut the shuffled
    * array volume ~3×. Collision honesty: by the birthday bound
    * P ≈ n²/2⁶¹, ~10⁻⁷ at n = 10⁵ distinct shingles (any test SF) but
    * tens of percent at a 10⁸–10⁹-shingle corpus — so at the 1000×
    * decade SOME collision likely exists somewhere in the corpus. The
    * semantics are therefore "exact Jaccard over HASHED shingles":
    * oracle and engine hash identically so gates always agree, and a
    * verdict flip requires the colliding pair to land inside one
    * compared near-threshold pair (far rarer than a corpus-wide
    * collision). Callers needing true string-shingle fidelity should
    * carry the full 128-bit md5 as two longs instead. */
  def shingleHash60(g: Column): Column =
    conv(substring(md5(g), 1, 15), 16, 10).cast("long")

  private def mhExpr(i: Int): Column =
    min((lit(mhA(i)) * col("h") + lit(mhB(i))) % lit(MinHashP)).as(s"mh$i")

  /** MinHash signatures: `numHashes` columns mh0..mhN computed in ONE hash
    * aggregate over the (doc_id, g) shingle relation. */
  def minHashSignatures(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles.select(col("doc_id"), shingleHash40(col("g")).as("h"))
      .groupBy(col("doc_id"))
      .agg(mhExpr(0), (1 until numHashes).map(mhExpr): _*)

  /** Candidate pairs: docs sharing at least one band bucket (d1 < d2).
    *
    * Skew defense (`maxBucket`): a hot (band, band_hash) bucket — e.g. a
    * near-constant corpus where one bucket holds most of it — makes the
    * self-join quadratic in that bucket's size. With a cap set, a
    * bucket-size pre-aggregate splits the buckets: ≤ cap proceeds with
    * the normal all-pairs-in-bucket join; > cap emits STAR candidates
    * only — every member paired with the bucket's min doc id — bounding
    * the bucket's output at B−1 instead of B². Star pairs flow through
    * the same exact-Jaccard verification as everything else, and
    * `connectedComponents` recovers the full cluster transitively, so
    * for the adversarial all-near-identical case the final clustering is
    * unchanged while the candidate volume stays linear. (Pairs between
    * two non-pivot members of an oversized bucket are not re-verified
    * individually — the documented recall trade for boundedness; they
    * remain candidates via any other band they share.)
    * Default Int.MaxValue = off: the capped path costs one extra
    * aggregate + join, so the uncapped fast path stays byte-identical. */
  def lshCandidates(bands: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    if (maxBucket == Int.MaxValue) {
      val a = bands.as("a")
      val b = bands.as("b")
      return a.join(b, col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
    }
    val sized = bands.join(
      bands.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("_n"), min(col("doc_id")).as("_pivot")),
      Seq("band", "band_hash"))
    val small = sized.filter(col("_n") <= maxBucket)
    val pairsSmall = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    val pairsBig = sized
      .filter(col("_n") > maxBucket && col("doc_id") =!= col("_pivot"))
      .select(col("_pivot").as("d1"), col("doc_id").as("d2"))
    pairsSmall.union(pairsBig).distinct()
  }

  /** Per-doc hashed word-n-gram shingle arrays (doc_id, hs: array<long>)
    * — the word-feature counterpart of `charShingleHashes`: one codegen'd
    * kernel pass (WordShingleHashes, bit-identical to the exploded
    * `shingleHash40(md5(g))`), no Generate, no shuffle. Feeds
    * `lshPairsArrayLocal` for the word-shingle MinHash pipeline. */
  def wordShingleHashes(docs: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    // FanOut before the kernel: the hash pass AND everything a consumer
    // fuses behind it (MinHash signature fold, band build) otherwise run
    // single-task inside the scan stage of a single-row-group input.
    FanOut.bySize(docs.select(idCol.as("doc_id"), textCol.as("t")),
        col("doc_id"))
      .select(col("doc_id"),
        TextFunctions.wordShingleHashes(col("t"), n).as("hs"))

  /** Per-doc hashed char-n-gram arrays (doc_id, hs: array<long>) — the
    * ROW-LOCAL feature representation: one codegen'd rolling-hash pass
    * per doc (CharNGramHashes), no explode, no shuffle, no per-window
    * digest. A doc's feature set rides in its row (8 bytes per
    * character), the same layout Spark ML's MinHashLSH uses; fine for
    * any doc that fits a task's memory, i.e. all of them. */
  def charShingleHashes(docs: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    FanOut.bySize(docs.select(idCol.as("doc_id"), textCol.as("t")),
        col("doc_id"))
      .select(col("doc_id"),
        TextFunctions.charNGramHashes(col("t"), n).as("hs"))

  /** Exact Jaccard over candidate pairs with SET-VALUED doc rows: two
    * joins pull each side's distinct feature array onto the pair, then
    * size(array_intersect) computes the overlap row-locally. Shuffle
    * volume is |candidate docs| feature arrays + |pairs|, against
    * |pairs| × |avg set| rows twice for a join over exploded features.
    * Wins whenever docs appear in >1 pair (always, for near-dup
    * clusters). */
  def jaccardOverPairsArrays(pairs: DataFrame, docSets: DataFrame): DataFrame =
    pairs.join(docSets.as("x1"), col("d1") === col("x1.doc_id"))
      .join(docSets.as("x2"), col("d2") === col("x2.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("x1.gs"), col("x2.gs"))).cast("long").as("inter"),
        size(col("x1.gs")).cast("long").as("n1"),
        size(col("x2.gs")).cast("long").as("n2"))
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))

  /** The LSH band keys of one doc's hashed feature array `hs` (hashes
    * < 2⁴⁰, as `wordShingleHashes`/`charShingleHashes` emit), as
    * array<long> with one key per band: ONE MinHashBandKeys kernel pass
    * folds the `numHashes` permutation minima (mhA/mhB mod MinHashP) into
    * `bands` arithmetic band keys (8-byte numeric join keys — see its
    * scaladoc for why this beats the HOF + md5 band composition). The one
    * place the permutation family and the band fold meet the kernel. */
  def bandKeys(hs: Column, numHashes: Int, bands: Int): Column = {
    import graft.functions.TextFunctions.{NGramHashB, NGramHashP}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.MinHashBandKeys(expression(hs),
      (0 until numHashes).map(mhA), (0 until numHashes).map(mhB),
      MinHashP, bands, NGramHashB, NGramHashP))
  }

  /** (doc_id, band, band_hash) LSH band keys from a row-local hashed
    * feature relation (doc_id, hs) — ONE `bandKeys` kernel pass;
    * docs with no features emit no keys. This is the relation an
    * INGESTION pipeline persists as its near-dup index (partition by
    * `band`: every probe is then a pruned equi-join). */
  def bandKeysArrayLocal(hashed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes == bands * (numHashes / bands), "bands must divide numHashes")
    hashed.filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        posexplode(bandKeys(col("hs"), numHashes, bands)).as(Seq("band", "band_hash")))
  }

  /** The MinHash+LSH near-dup pipeline over row-local hashed feature
    * arrays (doc_id, hs): band keys (`bandKeysArrayLocal`) → candidate
    * pairs (`lshCandidates`) → exact Jaccard ≥ `threshold`
    * (`jaccardOverPairsArrays`); per-doc sets are projections. The only
    * shuffles are the band-bucket candidate self-join and the two verify
    * joins, each bounded by candidate volume. The candidate relation
    * feeds both the doc filter and the verify join → eagerly
    * local-checkpointed here (≤ pairs-count rows; ContextCleaner-released,
    * never a session-wide cache pin). Callers should materialize `hashed`
    * only if it is expensive to rebuild (the hash pass usually isn't). */
  def lshPairsArrayLocal(hashed: DataFrame, numHashes: Int, bands: Int,
                         threshold: Double,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    val byBand = bandKeysArrayLocal(hashed, numHashes, bands)
    // candidate relation (≤ pairs-count rows) feeds the doc filter AND
    // the verify join: eager local checkpoint materializes it once
    // WITHOUT a CacheManager pin — blocks are RDD-level, released by
    // the ContextCleaner when the result goes unreachable, so repeated
    // calls on a long-lived shared session leak nothing
    val cand = lshCandidates(byBand, maxBucket).localCheckpoint()
    val candDocs = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    // AQE broadcasts the semi-join side at runtime when candDocs is small;
    // on adversarial corpora (huge candidate sets) it degrades gracefully
    // to a shuffle semi-join instead of OOMing a forced broadcast
    val docSets = hashed.select(col("doc_id"), array_distinct(col("hs")).as("gs"))
      .join(candDocs, Seq("doc_id"), "leftsemi")
    jaccardOverPairsArrays(cand, docSets).filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup dedup: screen a NEW batch against a PERSISTED
    * index — the shape corpus ingestion actually runs (the index exists;
    * only the day's shard is new). A batch doc is dropped when it
    * verifies (exact Jaccard ≥ threshold) against any indexed doc, or
    * against a lower-id doc of its own batch (first-wins; transitive
    * chains are `connectedComponents`' job, documented there).
    *
    * Inputs are the two halves of a real index + their batch
    * counterparts: `indexKeys` (doc_id, band, band_hash — persist
    * partitioned by `band` so probes prune to matching band partitions),
    * `indexSets` (doc_id, gs — the verify-side feature sets), and the
    * batch's `batchKeys`/`batchSets` built by the same kernels.
    *
    * Scale shape: the cross probe is a (band, band_hash) equi-join of the
    * batch's keys against the index — shuffle ∝ batch keys + matching
    * index buckets, NEVER a re-scan of the historical corpus; the
    * within-batch self-join is `lshCandidates` over the (small) batch;
    * verify joins are candidate-bounded. Output: one row per batch doc
    * (docs with no features trivially keep):
    * (doc_id, n_dup_index, n_dup_batch, keep). */
  def incrementalDedup(indexKeys: DataFrame, indexSets: DataFrame,
                       batchKeys: DataFrame, batchSets: DataFrame,
                       threshold: Double,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    val cross = batchKeys.as("bk")
      .join(indexKeys.as("ik"), Seq("band", "band_hash"))
      .select(col("bk.doc_id").as("d1"), col("ik.doc_id").as("d2"))
      .distinct().localCheckpoint()
    val self = lshCandidates(batchKeys, maxBucket).localCheckpoint()

    val allSets = batchSets.unionByName(indexSets)
    val vCross = jaccardOverPairsArrays(cross, allSets)
      .filter(col("jaccard") >= threshold)
    val vSelf = jaccardOverPairsArrays(self, batchSets)
      .filter(col("jaccard") >= threshold)

    val dupIx = vCross.groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).as("_id_nix"))
    val dupB = vSelf.groupBy(col("d2").as("doc_id")) // d2 is the higher id: it drops
      .agg(count(lit(1)).as("_id_nb"))
    batchSets.select(col("doc_id"))
      .join(dupIx, Seq("doc_id"), "left")
      .join(dupB, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_id_nix"), lit(0L)).as("n_dup_index"),
        coalesce(col("_id_nb"), lit(0L)).as("n_dup_batch"),
        (coalesce(col("_id_nix"), lit(0L)) === 0 &&
          coalesce(col("_id_nb"), lit(0L)) === 0).as("keep"))
  }

  /** Near-duplicate pairs (d1, d2, hamming) by SimHash Hamming distance
    * ≤ `maxDist`. `bits` picks the hash: 16 (`simHash16`, the
    * oracle-visible width) or 64 (`simHash64`, the production width:
    * 4 bands of 16 bits cover d ≤ 3).
    *
    * `banded = true` mines candidates by pigeonhole banding
    * (`simHashBandedPairs` over `bands` bands): a pair within distance d
    * < bands collides exactly in some band, so candidates are band-
    * equality self-joins (each bucket |corpus|/2^(bits/bands) docs on
    * uniform hashes), never the all-pairs product — the plan that
    * survives a 1000× corpus, PROVIDED the hash bits are near-uniform.
    * `banded = false` is the quadratic reference scan (broadcast
    * nested-loop + codegen'd hamming, fine to ~10⁴ docs). On low-entropy
    * corpora (tiny vocabulary → correlated bits) buckets degenerate
    * toward the full corpus and the quadratic scan wins: measured 4×
    * faster on the 5 k-doc synthetic fixture at 16 bits, which is why
    * that gate pins banded = false. DedupSpec and EngineProperties pin
    * banded ≡ quadratic. */
  def simHashNearPairs(docs: DataFrame, idCol: Column, textCol: Column,
                       bits: Int, maxDist: Int, bands: Int,
                       banded: Boolean = true): DataFrame = {
    require(bits == 16 || bits == 64, s"SimHash width must be 16 or 64, got $bits")
    val sh = if (bits == 16) simHash16(docs, idCol, textCol)
      else simHash64(docs, idCol, textCol)
    if (banded) return simHashBandedPairs(sh, bands, maxDist, bits)
    val a = sh.select(col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = sh.select(col("doc_id").as("d2"), col("simhash").as("h2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        graft.functions.BitOps.hamming64(col("h1"), col("h2"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Pigeonhole-banded near-pair mining over ANY (doc_id, simhash)
    * relation: the `bits`-bit hash splits into `bands` equal bands; a
    * pair within Hamming distance d < bands differs in at most d bands,
    * so it collides exactly in ≥ 1 — candidates are the union of `bands`
    * band-equality self-joins (shuffle joins on a short integer key),
    * never the all-pairs product. Exact Hamming verification follows.
    *
    * De-dup without a distinct shuffle: a pair colliding in several
    * bands is kept only at its FIRST matching band — the "no earlier
    * band also matches" predicate is computable from (h1, h2) alone, so
    * duplicate candidates are filtered in-place (generalizes the 2-band
    * band-0-byte trick of round 3).
    *
    * The hash relation is tiny (8 bytes/doc) but costs a full
    * token-explode + aggregate to compute, and it feeds BOTH sides of
    * the band self-join — local-checkpointed here so the corpus is
    * hashed once (and released by GC, never a session-wide cache pin). */
  def simHashBandedPairs(sh: DataFrame, bands: Int, maxDist: Int,
                         bits: Int = 64): DataFrame = {
    require(bands > maxDist,
      s"$bands-band pigeonhole only covers hamming <= ${bands - 1}")
    require(bits % bands == 0 && bits <= 64, "bands must split the hash evenly")
    val w = bits / bands
    val mask = (1L << w) - 1
    def bv(h: Column, k: Int): Column =
      shiftrightunsigned(h, k * w).bitwiseAND(lit(mask))
    // EAGER local checkpoint, not Dataset.persist: the hash relation is
    // tiny (8 bytes/doc) and feeds both sides of the band self-join, so
    // it must materialize once — but a CacheManager pin would outlive
    // the call (never-released cache on a shared session). Checkpoint
    // blocks are RDD-level: the ContextCleaner releases them as soon as
    // the result becomes unreachable. (On a real cluster swap in
    // reliable `checkpoint`, as elsewhere.)
    val shP = sh.localCheckpoint()
    val byBand = shP.select(col("doc_id"), col("simhash"),
        explode(array((0 until bands).map(k =>
          struct(lit(k).as("band"), bv(col("simhash"), k).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val a = byBand.select(col("band"), col("bv"),
      col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = byBand.select(col("band"), col("bv"),
      col("doc_id").as("d2"), col("simhash").as("h2"))
    val earlierBandAlsoMatches = (0 until bands - 1).map(j =>
        col("band") > j && bv(col("h1"), j) === bv(col("h2"), j))
      .reduceOption(_ || _).getOrElse(lit(false))
    a.join(b, Seq("band", "bv"))
      .filter(col("d1") < col("d2"))
      .filter(!earlierBandAlsoMatches)
      .select(col("d1"), col("d2"),
        graft.functions.BitOps.hamming64(col("h1"), col("h2"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Connected components over an undirected pair relation (`d1`, `d2`) —
    * the step that turns near-dup PAIRS into dedup CLUSTERS (every doc
    * labeled with the min doc id reachable through any chain of pairs),
    * so a pipeline can keep one canonical doc per cluster.
    *
    * Algorithm: iterative push-min label propagation. Each round pushes
    * every node's label to its neighbors (one shuffle-join of the edge
    * relation against current labels) and takes the min of own + incoming
    * labels (one hash aggregate) — two shuffles per round, run by
    * `Fixpoint.iterate`. Rounds needed = graph diameter. Near-dup graphs
    * are quasi-cliques (pairs come from a similarity threshold, which is
    * near-transitive), so diameter is small and this beats the O(log n)
    * large-star/small-star alternating scheme in practice: each of its
    * rounds rewrites the full EDGE relation, while a propagation round
    * only rewrites the node-label relation (|V| ≤ |E| rows, usually ≪).
    *
    * Termination: labels only ever decrease, so the global label sum is
    * strictly monotone until the fixpoint — converged exactly when the
    * sum repeats round-over-round, a probe cheaper than any join-back
    * changed-row diff. Throws if `maxIter` rounds pass without
    * convergence — a silently unconverged labeling would be WRONG (two
    * docs of one cluster left with different labels), never just slow. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val session = pairs.sparkSession
    // materialize the edge relation ONCE before looping: `sym` is joined in
    // every round, and without this the upstream pair-mining pipeline
    // (often a full LSH run) re-executes per round — measured 3× the total
    // runtime on the gate query. Eager localCheckpoint, same rationale as
    // Fixpoint's per-round label checkpoint.
    val symRaw = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct()
      .localCheckpoint()
    // ADAPTIVE loop parallelism: every round's relations are ≤ |E| rows,
    // and AQE cannot re-plan an iterative driver loop — on a small graph,
    // the configured shuffle-partition count (sized for the CORPUS) turns
    // each of the ~2·rounds tiny stages into pure task-launch overhead
    // (the gate graph's loop: 1.4 s at 32 partitions → 0.7 s sized to
    // its 256 edges). Size the loop to the edge
    // count (≥ 50 k edges/partition), capped at the session setting so a
    // genuinely large graph keeps its full parallelism.
    val confParts = session.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1,
      math.min(confParts, math.ceil(symRaw.count() / 50000.0).toInt))
    // hash-partition the edges by the per-round join key BEFORE the
    // checkpoint: Dataset.localCheckpoint preserves outputPartitioning,
    // so every round's sym⋈labels reuses it and only the (smaller) label
    // relation moves — the edge relation is shuffled once, not per round
    // Loop parallelism is applied OPERATOR-LOCALLY via explicit
    // repartition(loopParts, key) on every per-round shuffle input —
    // never by mutating spark.sql.shuffle.partitions, which would leak
    // the loop's (tiny) partition count into any query another thread
    // plans on the shared session while the loop runs.
    val sym = symRaw
      .repartition(loopParts, col("src"))
      .localCheckpoint()
    // seed = min(own, min neighbor) — round 1 fused into the node-listing
    // aggregate (sym is already hash(src, loopParts), so this aggregate
    // reuses that partitioning: no exchange, no session-conf dependence;
    // a clique converges at the seed itself)
    // Decimal sum: a Long sum would overflow (ANSI: throw) once
    // |V| × max(id) nears 2^63 — real at billion-node corpus scale.
    val seed = sym.groupBy(col("src"))
      .agg(min(least(col("src"), col("dst"))).as("cluster_id"))
      .select(col("src").as("node"), col("cluster_id"))
    Fixpoint.iterate("connectedComponents", seed, maxIter,
        sum(col("cluster_id").cast("decimal(38,0)")).as("s")) { labels =>
      val pushed = sym.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("cluster_id"))
      // the explicit repartition pins this round's aggregate to
      // loopParts (the union discards child partitioning, and the
      // implicit exchange would otherwise be sized by the session conf);
      // the checkpointed result keeps hash(node, loopParts), which the
      // next round's join reuses
      labels.union(pushed)
        .repartition(loopParts, col("node"))
        .groupBy(col("node")).agg(min(col("cluster_id")).as("cluster_id"))
    }
  }

  /** Canonical-document selection — the step that makes near-dup
    * clustering ACTIONABLE: every document gets a keep/drop verdict,
    * keeping exactly one member per duplicate cluster (the
    * highest-`quality` one, doc-id tiebreak) and every unclustered
    * document (its own singleton cluster).
    *
    * `labels` is `connectedComponents` output (node, cluster_id); `docs`
    * supplies the id and quality columns. The join is a LEFT join from
    * docs (labels only cover clustered nodes — typically a small
    * fraction of the corpus), and the per-cluster argmax is a window
    * partitioned by cluster_id: clusters are near-dup families, so
    * partitions are tiny and the shuffle is one hash exchange on
    * cluster_id — no global sort, no driver involvement. */
  def canonicalPerCluster(labels: DataFrame, docs: DataFrame,
                          idCol: Column, quality: Column): DataFrame = {
    val scored = docs.select(idCol.as("doc_id"), quality.as("quality"))
    val lab = scored.join(
        labels.select(col("node").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    lab.withColumn("is_canonical", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
  }

  /** Benchmark decontamination: per train doc, the number of DISTINCT
    * word n-gram features it shares with a probe (benchmark/test-set)
    * corpus — the standard pre-training contamination check.
    *
    * Scale shape: the probe side (a benchmark: 10⁴–10⁶ n-grams) reduces
    * to a distinct hash relation and is BROADCAST; the train corpus
    * streams through one explode + hash + broadcast-semi-join, and only
    * MATCHED rows reach the per-doc distinct-count aggregate — shuffle
    * volume ∝ contamination, not corpus size. Docs with zero overlap are
    * recovered by a left join against the doc list (no wide scan: ids
    * only). Same md5-derived 40-bit feature hash as the MinHash family,
    * so the DuckDB oracle reproduces it bit-for-bit.
    *
    * The corpus-side gram pass is the codegen'd row-local kernel
    * (`wordShingleHashes`, bit-identical to exploding string shingles
    * through `shingleHash40`): the gate dominates `pipeline_curation` at
    * every decade, and the kernel skips the shingle-string
    * materialization + per-gram md5-of-string that the explode
    * formulation pays on every corpus token (the repeatedSpans lesson,
    * ≈2× there). Only the 8-byte hash — never the ~50-byte gram string —
    * leaves the row. */
  def ngramOverlap(train: DataFrame, probe: DataFrame,
                   idCol: Column, textCol: Column, n: Int): DataFrame = {
    val probeHashes = broadcast(
      wordShingleHashes(probe, idCol, textCol, n)
        .select(explode(col("hs")).as("h")).distinct())
    val matched = wordShingleHashes(train, idCol, textCol, n)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(probeHashes, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("h")).as("n_overlap"))
    train.select(idCol.as("doc_id"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Exact substring-level dedup: maximal CROSS-document repeated spans
    * (the "dedup at n-gram granularity" of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — docs
    * aren't near-dups of anyone yet still share verbatim boilerplate
    * runs worth cutting). A word `n`-gram occurring in ≥ 2 distinct
    * documents marks positions [pos, pos+n-1] in each; overlapping marks
    * within a doc merge into maximal spans. Output: one row per maximal
    * span (doc_id, span_start, span_end, n_grams) in token coordinates.
    *
    * Scale shape: gram fan-out is row-local (shinglesOf posexplode), the
    * repeated-gram filter is one map-side-combinable aggregate over gram
    * hashes, the mark join shuffles ∝ REPEATED grams only (boilerplate
    * volume, not corpus volume), and the interval merge runs inside
    * per-document window partitions (doc-sized, never global). The
    * classic running-max interval merge: a span opens a new group iff it
    * starts past every previous span's end. */
  def repeatedSpans(docs: DataFrame, idCol: Column, textCol: Column,
                    n: Int): DataFrame = {
    // gram hashes via the codegen'd row-local kernel (bit-identical to
    // exploding string shingles through shingleHash40, minus the shingle
    // string materialization and per-row md5 — measured ≈2× on the gate,
    // 2.53 s in-sweep → 1.29 s solo at sf0.1);
    // hs[i] hashes the shingle STARTING at token i, so posexplode's index
    // IS the span start
    val grams = wordShingleHashes(docs, idCol, textCol, n)
      .select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val repeated = grams.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val marks = grams.join(repeated, Seq("h"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + n - 1).as("e"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"))
    val prevMax = max(col("e")).over(byDoc.rowsBetween(Long.MinValue, -1))
    marks
      .withColumn("brk",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).cast("long").as("span_start"),
        max(col("e")).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("grp")
  }

  /** 64-bit SimHash over the distinct token set: bit b votes +1/-1 by
    * bit (b mod 4) of hex digit ⌊b/4⌋ of md5(token) — i.e. the low 64
    * bits of the digest drive the 64 votes; bit set iff the vote sum is
    * positive. Engine-portable: the oracle recomputes the identical
    * digit/bit extraction from DuckDB's md5 hex string.
    *
    * One row-local codegen'd pass (SimHash64Expr) — a PROJECTION. The
    * exploded alternative (token explode → 64 sum-when buffers →
    * hash aggregate) costs a Generate plus a 64-column shuffle per call
    * site; measured 2.2× slower on the sf0.1 banded gate. */
  def simHash64(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"),
      graft.functions.SimHashExpr.simhash64(textCol).as("simhash"))

  /** 16-bit SimHash over the distinct token set: bit b votes +1/-1 by the
    * top bit of hex digit b of md5(token); bit set iff the vote sum is
    * positive. 16 bits keeps the oracle SQL finite while exercising the
    * real structure (`simHash64` is the production width). Same
    * row-local kernel as simHash64 — one projection, no explode, no
    * 16-column aggregate. */
  def simHash16(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"),
      graft.functions.SimHashExpr.simhash16(textCol).as("simhash"))
}
