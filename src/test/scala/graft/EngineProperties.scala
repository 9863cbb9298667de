package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.model.LogFrame
import graft.operators.UniqueUsers

/** Event row for the sessions-funnel split-invariance property (top
  * level so the Dataset encoder codegens). */
case class SfEv(user_id: Long, event_id: Long, ts: Long, event_type: String)

/** Property-based invariants (SURVEY §5.4): results must be invariant
  * under input permutation and duplication, dedup must be idempotent, and
  * fingerprints must respect their equivalence classes. Case count kept
  * small — each case runs Spark jobs.
  */
object EngineProperties extends Properties("engine") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val genFrames: Gen[List[LogFrame]] =
    Gen.listOfN(120, for {
      ts <- Gen.choose(1468244340L, 1468244340L + 600L)
      uid <- Gen.choose(1, 40).map(n => s"u$n")
    } yield LogFrame(ts, uid))

  private def counts(frames: Seq[LogFrame]): Map[Long, Long] =
    UniqueUsers.perMinute(
      frames.toDF().select(timestamp_seconds($"ts").as("t"), $"uid"),
      $"t", $"uid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  property("windowed distinct count is permutation-invariant") =
    Prop.forAll(genFrames) { frames =>
      frames.isEmpty || counts(frames) == counts(scala.util.Random.shuffle(frames))
    }

  property("windowed distinct count is duplication-idempotent") =
    Prop.forAll(genFrames) { frames =>
      frames.isEmpty || counts(frames) == counts(frames ++ frames)
    }

  property("two-phase dedup+count ≡ count_distinct") =
    Prop.forAll(genFrames) { frames =>
      frames.isEmpty || {
        val df = frames.toDF().select(timestamp_seconds($"ts").as("t"), $"uid")
        val two = UniqueUsers.perMinuteTwoPhase(df, $"t", $"uid")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        two == counts(frames)
      }
    }

  private val genWords: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf("spark", "scala", "data", "join", "agg", "the", "a"))

  property("wordSetFingerprint is token-permutation-invariant") =
    Prop.forAll(genWords) { words =>
      val texts = Seq(words.mkString(" "),
        scala.util.Random.shuffle(words).mkString(" "))
      val fps = texts.toDF("text")
        .select(TextFunctions.wordSetFingerprint($"text")).as[String].collect()
      fps(0) == fps(1)
    }

  private val genAsofData: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
    for {
      left <- Gen.listOfN(40, for {
        k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 100L); id <- Gen.choose(0L, 10000L)
      } yield (k, t, id))
      right <- Gen.listOfN(40, for {
        k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 100L); id <- Gen.choose(0L, 10000L)
      } yield (k, t, id))
    } yield (left.distinctBy(_._3), right.distinctBy(_._3))

  property("asOf ≡ brute-force latest-right-at-or-before, for random keyed data") =
    Prop.forAll(genAsofData) { case (l, r) =>
      l.isEmpty || {
        import org.apache.spark.sql.functions.timestamp_seconds
        val left = l.toDF("k", "t", "lid")
          .select($"k", timestamp_seconds($"t").as("t"), $"lid")
        val right = r.toDF("k", "t", "rid")
          .select($"k", timestamp_seconds($"t").as("t"), $"rid")
        val got = graft.operators.AsOfJoin.asOf(left, right,
            $"k", $"k", $"t", $"t", Seq("rid" -> $"rid"), $"rid")
          .collect()
          .map(row => row.getAs[Long]("lid") ->
            Option(row.getAs[Any]("asof_rid")).map(_.asInstanceOf[Long]))
          .toMap
        val want = l.map { case (k, t, lid) =>
          val cands = r.filter(x => x._1 == k && x._2 <= t)
          lid -> (if (cands.isEmpty) None
                  else Some(cands.maxBy(x => (x._2, x._3))._3))
        }.toMap
        got == want
      }
    }

  property("asOfNative ≡ brute-force latest-right-at-or-before, for random keyed data") =
    Prop.forAll(genAsofData) { case (l, r) =>
      l.isEmpty || {
        import org.apache.spark.sql.functions.timestamp_seconds
        val left = l.toDF("k", "t", "lid")
          .select($"k", timestamp_seconds($"t").as("t"), $"lid")
        val right = r.toDF("rk", "rt", "rid")
          .select($"rk", timestamp_seconds($"rt").as("rt"), $"rid")
        val got = graft.operators.AsOfJoin.asOfNative(left, right,
            "k", "t", "rk", "rt", "rid")
          .collect()
          .map(row => row.getAs[Long]("lid") ->
            Option(row.getAs[Any]("rid")).map(_.asInstanceOf[Long]))
          .toMap
        val want = l.map { case (k, t, lid) =>
          val cands = r.filter(x => x._1 == k && x._2 <= t)
          lid -> (if (cands.isEmpty) None
                  else Some(cands.maxBy(x => (x._2, x._3))._3))
        }.toMap
        got == want
      }
    }

  property("frameSample at stride 1 reassembles the payload exactly") =
    Prop.forAll(Gen.choose(0, 300), Gen.choose(1, 64)) { (len, frameBytes) =>
      import graft.multimodal.Multimodal
      val payload = Array.tabulate(len)(i => (i % 251).toByte)
      val media = Seq(Multimodal.MediaRecord(7L, "video", payload, Map.empty)).toDS()
      val frames = Multimodal.frameSample(media, frameBytes, stride = 1)
        .collect().sortBy(_.frame_idx)
      val reassembled = frames.flatMap(_.frame)
      reassembled.sameElements(payload) &&
        frames.forall(_.frame.length <= frameBytes) &&
        frames.map(_.frame_idx).toSeq == frames.indices.toSeq
    }

  property("distributed prefix sum equals the sequential running total") =
    Prop.forAll(Gen.listOf(Gen.choose(0L, 100L)), Gen.choose(1, 8)) { (ws, parts) =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      val got = graft.operators.PrefixSum
        .withRunningTotal(df, "id", "w", "cum", parts)
        .orderBy("id").collect().map(_.getLong(2)).toSeq
      got == ws.scanLeft(0L)(_ + _).tail
    }

  property("packSequences spans equal the sequential concat-and-chunk layout") =
    Prop.forAll(Gen.listOf(Gen.choose(0L, 50L)), Gen.choose(1L, 37L)) { (ws, budget) =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      val got = graft.operators.Packing.packSequences(df, "id", "w", budget)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
      // reference: lay positive-weight docs end-to-end, chunk at budget
      var cum = 0L
      val want = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
      ws.zipWithIndex.foreach { case (w, i) =>
        if (w > 0) {
          val s = cum; val e = cum + w; cum = e
          var k = s / budget
          while (k <= (e - 1) / budget) {
            val st = math.max(s, k * budget)
            want += ((i.toLong, k, st - s, st - k * budget,
              math.min(e, (k + 1) * budget) - st))
            k += 1
          }
        }
      }
      got == want
    }

  property("packSequences ignores caller columns named like its scratch") =
    // regression: internal columns are _pk_-prefixed (the RangeJoin _rj_
    // convention); a caller frame already holding `cum`/`s`/`seq_start`
    // must be neither clobbered nor mis-bound by name resolution
    Prop.forAll(Gen.listOf(Gen.choose(0L, 50L)), Gen.choose(1L, 37L)) { (ws, budget) =>
      import org.apache.spark.sql.functions.lit
      val base = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      val clash = base.withColumn("cum", lit(-1L)).withColumn("s", lit(-2L))
        .withColumn("seq_start", lit(-3L))
      def spans(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Packing.packSequences(df, "id", "w", budget)
          .collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
          .toSet
      spans(clash) == spans(base)
    }

  property("connectedComponents equals reference union-find on random graphs") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { es =>
      val edges = es.filter { case (a, b) => a != b }
      edges.isEmpty || {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(n => n -> find(n)).toMap
        val got = graft.operators.DedupOps
          .connectedComponents(edges.toDF("d1", "d2"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == want
      }
    }

  property("canonical fingerprint ignores case and extra spaces") =
    Prop.forAll(genWords) { words =>
      val base = words.mkString(" ")
      val messy = "  " + words.map(w =>
        if (w.hashCode % 2 == 0) w.toUpperCase else w).mkString("  ") + " "
      val fps = Seq(base, messy).toDF("text")
        .select(TextFunctions.fingerprint($"text")).as[String].collect()
      fps(0) == fps(1)
    }

  private val genPoints: Gen[List[(Long, Long)]] =
    Gen.listOfN(40, for {
      id <- Gen.choose(0L, 10000L)
      t <- Gen.choose(-300L, 300L)
    } yield (id, t))

  private val genIntervals: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(12, for {
      id <- Gen.choose(0L, 10000L)
      s <- Gen.choose(-300L, 300L)
      span <- Gen.choose(0L, 250L)
    } yield (id, s, s + span))

  property("RangeJoin ≡ naive theta join, any bucket width") =
    Prop.forAll(genPoints, genIntervals, Gen.oneOf(1L, 7L, 97L, 1000L)) {
      (ps, ivs, width) =>
        val points = ps.toDF("pid", "t")
        val intervals = ivs.toDF("iid", "s", "e")
        val got = graft.operators.RangeJoin.pointInInterval(
            points, $"t", intervals, $"s", $"e", width)
          .select($"pid", $"t", $"iid").as[(Long, Long, Long)].collect().toSeq.sorted
        val want = points.join(intervals, $"t" >= $"s" && $"t" <= $"e")
          .select($"pid", $"t", $"iid").as[(Long, Long, Long)].collect().toSeq.sorted
        got == want
    }

  private val genAscii: Gen[String] =
    Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)

  property("rolling hash matches the sequential fold and composes") =
    Prop.forAll(genAscii, genAscii) { (a, b) =>
      val B = 31L; val P = 1000000007L
      def fold(s: String): Long = s.foldLeft(0L)((h, c) => (h * B + c.toLong) % P)
      val hashes = Seq(a, b, a + b).toDF("text")
        .select(TextFunctions.rollingHash($"text", B, P)).as[Long].collect()
      // h(a ++ b) = (h(a)·B^|b| + h(b)) mod P — the anchor-shift identity
      // content-defined chunking relies on
      val composed = ((BigInt(fold(a)) * BigInt(B).modPow(b.length, BigInt(P))
        + BigInt(fold(b))) mod BigInt(P)).toLong
      hashes.toSeq == Seq(fold(a), fold(b), fold(a + b)) &&
        composed == fold(a + b)
    }

  // Unicode-heavy strings (BMP + supplementary) — CharNGramHashes is
  // specified over CODE POINTS, so astral chars must hash as one unit
  private val genUnicode: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.choose(32.toChar, 126.toChar).map(_.toString),
      1 -> Gen.oneOf("é", "∑", "中", "ß").map(identity[String]),
      1 -> Gen.oneOf("𝕊", "😀").map(identity[String]))).map(_.mkString)

  property("charNGramHashes ≡ per-window code-point fold, any n, any unicode") =
    Prop.forAll(genUnicode, Gen.choose(1, 7)) { (s, n) =>
      import graft.functions.TextFunctions.{NGramHashB, NGramHashP}
      val cps = s.codePoints().toArray
      val want = (0 to cps.length - n).map(i =>
        cps.slice(i, i + n).foldLeft(0L)((h, c) => (h * NGramHashB + c) % NGramHashP))
      val got = Seq(s).toDF("t")
        .select(TextFunctions.charNGramHashes($"t", n).as("hs"))
        .as[Seq[Long]].head()
      got == want
    }

  // Random near-dup corpora: a few base token strings plus 1-2 token
  // mutations — dense enough that hamming<=3 pairs exist
  private val genCorpus: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(6, 20)
    docs <- Gen.listOfN(n, for {
      base <- Gen.choose(0, 2)
      mut <- Gen.choose(0, 5)
    } yield s"alpha beta gamma delta w$base x$mut extra tokens here")
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("64-bit banded SimHash ≡ quadratic scan on random corpora") =
    Prop.forAll(genCorpus) { docs =>
      val df = docs.toDF("doc_id", "text")
      def run(banded: Boolean) =
        graft.operators.DedupOps.simHashNearPairs(df, $"doc_id", $"text",
            bits = 64, maxDist = 3, bands = 4, banded = banded)
          .as[(Long, Long, Long)].collect().toSet
      run(banded = true) == run(banded = false)
    }

  // ── round-8 analytics invariants ───────────────────────────────────────
  // Random small event tables, written through the real parquet path the
  // gates read (one scratch dir per case — the ops are dir-keyed).
  private val genEvents: Gen[List[(Long, Long, Long, String, Double)]] =
    for {
      n <- Gen.choose(10, 40)
      rows <- Gen.listOfN(n, for {
        sec <- Gen.choose(0L, 7200L)
        user <- Gen.choose(1L, 5L)
        typ <- Gen.oneOf("view", "click", "purchase", "signup", "error")
        v <- Gen.choose(0, 50000).map(_ / 100.0)
      } yield (sec, user, typ, v))
    } yield rows.zipWithIndex.map { case ((sec, u, t, v), i) =>
      (i.toLong + 1, sec, u, t, v)
    }

  private def eventsDir(rows: List[(Long, Long, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("prop_ev").toString
    rows.map { case (id, sec, u, t, v) =>
      (id, new java.sql.Timestamp(1704067200000L + sec * 1000), u, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  property("funnel step counts are monotonically non-increasing") =
    Prop.forAll(genEvents) { rows =>
      val dir = eventsDir(rows)
      val steps = graft.queries.AnalyticsQueries.all("funnel_conversion")(
          spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      steps("1_view") >= steps("2_click") &&
        steps("2_click") >= steps("3_purchase")
    }

  property("winsorize: bounds bracket the clipped sum, clip counts bounded") =
    Prop.forAll(genEvents) { rows =>
      val dir = eventsDir(rows)
      graft.queries.AnalyticsQueries.all("winsorize_values")(spark, dir)
        .collect().forall { r =>
          val (n, lo, hi) = (r.getAs[Long]("n_events"),
            r.getAs[Long]("lo_fp"), r.getAs[Long]("hi_fp"))
          val sum = r.getAs[Long]("sum_wins_fp")
          lo <= hi && sum >= n * lo && sum <= n * hi &&
            r.getAs[Long]("n_low") + r.getAs[Long]("n_high") <= n
        }
    }

  property("session ids tile the event stream per user") =
    Prop.forAll(genEvents) { rows =>
      val dir = eventsDir(rows)
      val out = graft.queries.AnalyticsQueries.all("session_ids_gap")(
        spark, dir).collect()
      val perUser = out.groupBy(_.getAs[Long]("user_id"))
      val totalEvents = out.map(_.getAs[Long]("n_events")).sum
      totalEvents == rows.size &&
        perUser.values.forall { ss =>
          val idxs = ss.map(_.getAs[Long]("session_idx")).sorted
          idxs.head == 0 && idxs.last == idxs.size - 1 && // dense 0..k
            ss.forall(_.getAs[Long]("duration_us") >= 0)
        }
    }

  property("TWAP lies within each user-day's value range") =
    Prop.forAll(genEvents) { rows =>
      val dir = eventsDir(rows)
      val byDayUser = rows.groupBy(r => r._3) // all events same day here
      graft.queries.AnalyticsQueries.all("twap_user_day")(spark, dir)
        .collect().forall { r =>
          val vs = byDayUser(r.getAs[Long]("user_id")).map(_._5)
          val twap = r.getAs[Double]("twap")
          twap >= vs.min - 0.01 && twap <= vs.max + 0.01
        }
    }

  property("CUSUM statistic is non-negative, crossings bounded by length") =
    Prop.forAll(genEvents) { rows =>
      val dir = eventsDir(rows)
      graft.queries.AnalyticsQueries.all("cusum_changepoint")(spark, dir)
        .collect().forall { r =>
          r.getAs[Long]("max_cusum_fp") >= 0 &&
            r.getAs[Long]("n_over") <= r.getAs[Long]("n_events")
        }
    }

  // ── round-9 additions: the analytics family's invariants ──────────────

  property("winsorize_sketch: bounds bracket the clipped sum, clip counts bounded") =
    Prop.forAll(genEvents) { rows =>
      val dir = eventsDir(rows)
      graft.queries.AnalyticsQueries.all("winsorize_sketch")(spark, dir)
        .collect().forall { r =>
          val (n, lo, hi) = (r.getAs[Long]("n_events"),
            r.getAs[Long]("lo_fp"), r.getAs[Long]("hi_fp"))
          val sum = r.getAs[Long]("sum_wins_fp")
          lo <= hi && sum >= n * lo && sum <= n * hi &&
            r.getAs[Long]("n_low") + r.getAs[Long]("n_high") <= n
        }
    }



  property("PSI is non-negative; exactly zero when the halves are identical") =
    Prop.forAll(genEvents) { rows =>
      // each term (pa−pb)·ln(pa/pb) has matching signs → every psi_fp ≥ 0
      val anyHalves = graft.queries.AnalyticsQueries.all("psi_drift")(
          spark, eventsDir(rows)).collect()
        .forall(_.getAs[Long]("psi_fp") >= 0)
      // second half = the first shifted 4 h (so the integer midpoint
      // cleanly separates them) with fresh ids: per-type value
      // distributions match exactly → psi must be exactly 0
      val dup = rows ++ rows.map { case (id, sec, u, t, v) =>
        (id + 100000L, sec + 14400L, u, t, v)
      }
      val identical = graft.queries.AnalyticsQueries.all("psi_drift")(
          spark, eventsDir(dup)).collect()
        .forall { r =>
          r.getAs[Long]("psi_fp") == 0 &&
            r.getAs[Long]("total_a") == r.getAs[Long]("total_b")
        }
      anyHalves && identical
    }

  property("association rules respect support anti-monotonicity") =
    Prop.forAll(genEvents) { rows =>
      graft.queries.AnalyticsQueries.all("assoc_rules")(
          spark, eventsDir(rows)).collect()
        .forall { r =>
          val (ab, a, b, n) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
            r.getAs[Long]("n_b"), r.getAs[Long]("n_baskets"))
          // support({a,b}) ≤ support({a}), support({b}); items ≤ baskets
          ab <= a && ab <= b && a <= n && b <= n &&
            // confidence ≥ support of the pair, and both are proper ratios
            r.getAs[Long]("conf_fp") >= 1000000L * ab / n &&
            r.getAs[Long]("conf_fp") <= 1000000L
        }
    }

  private val genDocs: Gen[List[(Long, String, Long)]] =
    for {
      n <- Gen.choose(5, 60) // below AND around the k=256 clamp boundary
      rows <- Gen.listOfN(n, for {
        src <- Gen.oneOf("web", "books", "code")
        chars <- Gen.choose(1L, 5000L)
      } yield (src, chars))
    } yield rows.zipWithIndex.map { case ((s0, c), i) => (i.toLong + 1, s0, c) }

  private def docsDir(rows: List[(Long, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("prop_docs").toString
    rows.toDF("doc_id", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  property("quantile normalization preserves within-source rank order") =
    Prop.forAll(genDocs) { rows =>
      val out = graft.queries.AnalyticsQueries.all("quantile_normalize")(
        spark, docsDir(rows)).collect()
      out.length == rows.length && {
        val globals = rows.map(_._3).toSet
        out.groupBy(_.getAs[String]("source")).values.forall { docs =>
          val ordered = docs.sortBy(r =>
            (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
            .map(_.getAs[Long]("norm_chars"))
          // ranks map monotonically onto the global target distribution,
          // and every normalized value IS a value from the corpus
          ordered.zip(ordered.tail).forall { case (x, y) => x <= y } &&
            ordered.forall(globals.contains)
        }
      }
    }

  private val genLineitem: Gen[List[(Long, Int, Double)]] =
    for {
      n <- Gen.choose(20, 80)
      tampered <- Gen.choose(0, 4) // k random tampered keys (gate rule:
                                   // ok % 997 == 0 && ln == 1)
      rows <- Gen.listOfN(n, for {
        ok <- Gen.choose(1L, 400L).map(_ * 997 + 1) // never % 997 == 0
        ln <- Gen.choose(1, 4)
        p <- Gen.choose(100L, 900000L).map(_ / 100.0)
      } yield (ok, ln, p))
      tamperRows <- Gen.listOfN(tampered, for {
        g <- Gen.choose(1L, 50L)
        p <- Gen.choose(100L, 900000L).map(_ / 100.0)
      } yield (g * 997L, 1, p))
    } yield rows ++ tamperRows

  property("merkle diff localizes exactly the tampered keys, any tamper count") =
    Prop.forAll(genLineitem) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("prop_li").toString
      rows.toDF("l_orderkey", "l_linenumber", "l_extendedprice")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = Queries.all("merkle_bucket_diff")(spark, dir)
        .collect()
      val expected = rows.filter(r => r._1 % 997 == 0 && r._2 == 1)
        .map(r => (r._1, r._2)).toSet
      val got = out.map(r =>
        (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"))).toSet
      got == expected && out.forall { r =>
        // the gate's +1-per-row tamper: per-key sum diff = duplicate count
        val d = rows.count(x => x._1 == r.getAs[Long]("l_orderkey") &&
          x._2 == r.getAs[Int]("l_linenumber"))
        r.getAs[Long]("price_b_fp") - r.getAs[Long]("price_a_fp") == d
      }
    }

  private val genSketchInput: Gen[(List[(String, Long, Double)], Int)] =
    for {
      n <- Gen.choose(10, 200)
      k <- Gen.oneOf(4, 16)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c")
        h <- Gen.choose(0L, (1L << 60) - 1)
        v <- Gen.choose(0, 10000).map(_.toDouble)
      } yield (g, h, v))
    } yield (rows.distinctBy(r => (r._1, r._2)), k)

  property("sketchThinned ≡ sketch on random hashes (or the guard fires loudly)") =
    Prop.forAll(genSketchInput) { case (rows, k) =>
      import graft.operators.QuantileSketch
      val df = rows.toDF("g", "h", "v")
      val full = QuantileSketch.sketch(df, $"g", $"h", $"v", k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      try {
        val thin = QuantileSketch.sketchThinned(df, $"g", $"h", $"v", k, 4)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        thin == full
      } catch {
        // an (astronomically rare on uniform hashes) starved thin filter
        // must THROW the guard message — silence is the only failure mode
        case e: Exception =>
          Option(e.getMessage).exists(_.contains("starved")) ||
            Option(e.getCause).flatMap(c => Option(c.getMessage))
              .exists(_.contains("starved"))
      }
    }

  property("percentile_bucket partitions each type into ordered value ranges") =
    Prop.forAll(genEvents) { rows =>
      val out = graft.queries.AnalyticsQueries.all("percentile_bucket")(
        spark, eventsDir(rows)).collect()
      val byType = out.groupBy(_.getAs[String]("event_type"))
      val typeCounts = rows.groupBy(_._4).view.mapValues(_.size.toLong).toMap
      byType.forall { case (t, bs) =>
        bs.map(_.getAs[Long]("n_rows")).sum == typeCounts(t) &&
          bs.forall { b =>
            val id = b.getAs[Long]("bucket")
            id >= 1 && id <= 4 &&
              b.getAs[Long]("min_v") <= b.getAs[Long]("max_v")
          } && {
            val sorted = bs.sortBy(_.getAs[Long]("bucket"))
            sorted.zip(sorted.tail).forall { case (lo, hi) =>
              lo.getAs[Long]("max_v") < hi.getAs[Long]("min_v")
            }
          }
      }
    }

  // ── literal-CASE + binary-search ≡ broadcast-join + HOF bucketing ────
  // The round-10 rewrite family (psi_drift, equi_depth_histogram,
  // percentile_bucket, mad_outliers_sketch, winsorize_sketch) replaces
  // "broadcast-join the per-group bounds, pick with size(filter(bs,
  // b <= v))" by "collect bounds, inline a literal CASE on the group
  // key, pick with the codegen'd SortedCountLE binary search". The two
  // forms must agree on ARBITRARY data — including groups with no
  // bounds row (inner-join drop ≡ null-CASE filter), empty bounds
  // arrays, duplicate bound values, and probes at/beyond the ends.
  private val genBucketing: Gen[(List[(String, Long)], List[(String, List[Long])])] =
    for {
      rows <- Gen.listOfN(60, for {
        g <- Gen.oneOf("a", "b", "c", "d")
        v <- Gen.choose(-100L, 100L)
      } yield (g, v))
      withBounds <- Gen.someOf(Seq("a", "b", "c", "d"))
      bounds <- Gen.sequence[List[(String, List[Long])], (String, List[Long])](
        withBounds.toList.map(g =>
          Gen.listOfN(5, Gen.choose(-90L, 90L)).map(bs => g -> bs.sorted)))
    } yield (rows, bounds)

  property("literal-CASE binary-search bucketing ≡ broadcast-join HOF form") =
    Prop.forAll(genBucketing) { case (rows, bounds) =>
      rows.isEmpty || bounds.isEmpty || {
        val df = rows.toDF("g", "v")
        val boundsDf = bounds.toDF("g", "bs")
        val joined = df.join(broadcast(boundsDf), "g")
          .select($"g", $"v",
            size(filter($"bs", b => b <= $"v")).cast("long").as("bucket"))
          .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        val caseExpr = bounds.tail.foldLeft(
          when($"g" === bounds.head._1, graft.functions.SortedSearch
            .sortedCountLE(typedLit(bounds.head._2), $"v"))) {
          case (acc, (gv, bs)) => acc.when($"g" === gv,
            graft.functions.SortedSearch.sortedCountLE(typedLit(bs), $"v"))
        }
        val literal = df.withColumn("bucket", caseExpr.cast("long"))
          .filter($"bucket".isNotNull)
          .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        joined == literal
      }
    }

  // ── streaming_sessions_funnel: batch-boundary invariance ─────────────
  // The gate pins ONE midpoint split; the mergeability argument claims
  // ANY time split works. This folds the gate's ACTUAL merge recurrence
  // (SessionFunnelState.mergeBatch — the code the foreachBatch runs)
  // over random-quantile splits and demands final state relations
  // identical to the single-batch fold. (SfEv is top-level: a case
  // class nested in this object defeats encoder codegen.)
  private val genSfEvents: Gen[List[SfEv]] =
    Gen.listOfN(150, for {
      uid <- Gen.choose(1L, 10L)
      // 3 h span on a 1-minute grid (µs): real > 30 min gaps, and equal
      // ts within a user, which the walk must order by event_id
      ts  <- Gen.choose(0L, 180L).map(_ * 60000000L)
      et  <- Gen.oneOf("view", "click", "purchase", "scroll")
    } yield (uid, ts, et)).map(_.zipWithIndex.map {
      case ((u, t, e), i) => SfEv(u, i.toLong, t, e)
    })

  private def foldSessionState(evs: Seq[SfEv], cuts: Seq[Long])
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    import graft.streaming.SessionFunnelState
    var uSt = SessionFunnelState.emptyUser(spark)
    var sSt = SessionFunnelState.emptySess(spark)
    var lo = Long.MinValue
    for (hi <- cuts.sorted.distinct :+ Long.MaxValue) {
      val b = evs.filter(e => e.ts > lo && e.ts <= hi)
      if (b.nonEmpty) {
        val (u1, s1) = SessionFunnelState.mergeBatch(b.toDF(), uSt, sSt)
        // materialize each version, like the gate's parquet round-trip
        uSt = u1.localCheckpoint(); sSt = s1.localCheckpoint()
      }
      lo = hi
    }
    (uSt.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
      sSt.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq)
  }

  property("sessions-funnel state is invariant to WHERE the stream splits") =
    Prop.forAll(genSfEvents, Gen.choose(1, 3),
      Gen.listOfN(3, Gen.choose(0.05, 0.95))) { (evs, nCuts, qs) =>
      evs.isEmpty || {
        val tss = evs.map(_.ts).sorted
        val cuts = qs.take(nCuts)
          .map(q => tss(((tss.size - 1) * q).toInt)).distinct
        foldSessionState(evs, Seq.empty) == foldSessionState(evs, cuts)
      }
    }
}
