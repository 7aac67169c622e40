package graft

import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Dedup operator semantics on controlled fixtures: exact dedup
  * collapses true duplicates; MinHash signatures are set-determined. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("D1: exact dedup collapses whitespace-variant duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "  The   quick brown FOX "), // same after normalization
      (3L, "a different document")
    ).toDF("doc_id", "text")
    val h = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    val out = docs.select(col("doc_id"), h.as("h"))
      .groupBy("h").agg(min("doc_id").as("keep_id"),
        count(lit(1)).as("n_dups"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }

  test("portable h60 hash is non-negative, < 2^60, and seed-sensitive") {
    val df = Seq("alpha", "beta", "", "the quick").toDF("x")
      .select(Portable.h60(col("x"), "s1|").as("h1"),
        Portable.h60(col("x"), "s2|").as("h2"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60))
      assert(r.getLong(0) !== r.getLong(1)) // different seed, different hash
    }
  }

  test("D2: identical token sequences yield identical MinHash signatures") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "z y x w v u")
    ).toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t)-2), i -> concat_ws(' ', t[i], t[i+1]))"))
        .as("shingle")).distinct()
    val sig = sh.groupBy("doc_id").agg(
      min(Portable.h60(col("shingle"), "mh0|")).as("m0"),
      min(Portable.h60(col("shingle"), "mh1|")).as("m1"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
  }

  test("D3: simhash lands in [0, 2^16) and is identical for identical docs") {
    val out = graft.operators.LlmOps.d3Simhash.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    assert(out.values.forall(v => v >= 0L && v < (1L << 16)))
  }

  test("D3b: banded simhash pairing is pigeonhole-complete modulo the cap") {
    // with HAM_MAX = 1 < 2 bands, one differing bit cannot touch both
    // bands, so blocking loses nothing over SURVIVING buckets; the only
    // sanctioned loss is the structural BUCKET_CAP (organic signatures
    // concentrate hard — 11% of sf0.001 all-pairs sit within hamming 1,
    // so hot buckets are real, and dropping them is the operator's
    // documented degenerate-bucket behavior). The test replicates the
    // full definition (banding, cap, pigeonhole, hamming) independently
    // on the driver and demands EXACT set equality.
    val sh = graft.operators.LlmOps.d3Simhash.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toVector
    val bands = sh.flatMap { case (id, s) =>
      (0 until 2).map(j => (j, (s >> (8 * j)) & 255L, id, s))
    }
    val bucketSize = bands.groupBy(t => (t._1, t._2)).map {
      case (k, v) => k -> v.length
    }
    val kept = bands.filter(t => bucketSize((t._1, t._2)) <= 64)
    val expected = kept.groupBy(t => (t._1, t._2)).values.flatMap { bucket =>
      bucket.flatMap { a => bucket.collect {
        case b if a._3 < b._3 &&
          java.lang.Long.bitCount(a._4 ^ b._4) <= 1 => (a._3, b._3)
      } }
    }.toSet
    val banded = graft.operators.LlmOps.d3bSimhashNeardup.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === expected,
      s"banded=${banded.size} expected=${expected.size}: must match exactly")
    assert(expected.nonEmpty, "fixture must exercise at least one pair")
    // and pigeonhole completeness itself, on the survivors: any pair
    // within hamming 1 whose docs share a SURVIVING bucket must be found
    val keptKeys = kept.groupBy(_._3)
      .map { case (id, v) => id -> v.map(t => (t._1, t._2)).toSet }
    val missed = for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 1 &&
        (keptKeys.getOrElse(ia, Set.empty) &
          keptKeys.getOrElse(ib, Set.empty)).nonEmpty &&
        !banded.contains((ia, ib))
    } yield (ia, ib)
    assert(missed.isEmpty, s"pairs sharing a surviving bucket missed: $missed")
  }

  test("T7: chunks cover every token and no chunk duplicates its predecessor") {
    val rows = graft.operators.LlmOps.t7Chunking.fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3).split(" ").length))
    rows.groupBy(_._1).foreach { case (_, chunks) =>
      val n = chunks.head._2
      val sorted = chunks.sortBy(_._3)
      // coverage: the last chunk must reach the final token
      assert(sorted.last._3 + sorted.last._4 === n,
        "trailing tokens must not be dropped")
      // no chunk fully contained in the previous one
      sorted.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, l2)) =>
          assert(s2 + l2 > s1 + l1, "chunk adds no new tokens")
        case _ => ()
      }
    }
  }

  test("D2 full pipeline: near-identical docs surface as high-jaccard pair") {
    // run the registered query over testdata and sanity-check the shape:
    // jaccard ∈ [0,1], id_a < id_b, no self-pairs
    val rows = graft.operators.LlmOps.d2DedupMinhash.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(3)
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("D6: a planted eval 4-gram flags exactly the corpus docs carrying it") {
    val rows = graft.operators.LlmOps.d6Decontaminate.fn(spark, sf).collect()
    assert(rows.nonEmpty, "testdata overlap exists; d6 must flag docs")
    rows.foreach { r =>
      assert(r.getLong(0) % 20 !== 0L, "eval docs must never be flagged")
      assert(r.getLong(1) >= 1L, "flagged docs share at least one gram")
      assert(r.getLong(2) >= 1L, "flagged docs hit at least one eval doc")
    }
    // ground truth, computed independently: every (corpus, eval) doc pair
    // sharing a distinct lowercase word-4-gram
    val gramsOf = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map { r =>
        val t = r.getString(1).toLowerCase.split(" ")
        r.getLong(0) -> t.sliding(4).filter(_.length == 4)
          .map(_.mkString(" ")).toSet
      }.toMap
    val evalGrams = gramsOf.filter(_._1 % 20 == 0).values
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = gramsOf.collect {
      case (id, g) if id % 20 != 0 && (g & evalGrams).nonEmpty => id
    }.toSet
    assert(rows.map(_.getLong(0)).toSet === expected)
  }

  test("D5: exact duplicates score jaccard 1.0; pairs are canonical") {
    val rows = graft.operators.LlmOps.d5NgramJaccard.fn(spark, sf).collect()
    assert(rows.nonEmpty, "testdata contains near-dups; d5 must find some")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.2 && j <= 1.0)
    }
    // exact text duplicates share every trigram AND every anchor: they
    // must appear with jaccard exactly 1.0
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .filter(_.getString(1).split(" ").length >= 3) // else no trigrams
      .groupBy(_.getString(1)).values.filter(_.length > 1)
      .flatMap(g => g.map(_.getLong(0)).sorted.toSeq.sliding(2)
        .collect { case Seq(a, b) => (a, b) })
      .toSet
    if (texts.nonEmpty) {
      val found = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(t => texts.contains((t._1, t._2)))
      assert(found.nonEmpty && found.forall(_._3 === 1.0))
    }
  }

  test("D7: distributed label propagation matches a driver union-find") {
    val pairs = graft.operators.LlmOps.d5NgramJaccard.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // independent reference: classic union-find over the same edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = parent.keys.map(v => v -> find(v)).toMap
    // canonical label = min member id per component
    val expected = roots.groupBy(_._2).values.flatMap { m =>
      val lbl = m.keys.min
      m.keys.map(_ -> lbl)
    }.toMap
    val sizes = expected.groupBy(_._2).map { case (l, m) => l -> m.size.toLong }

    val out = graft.operators.LlmOps.d7DedupCc.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet === expected.keySet)
    out.foreach { case (v, lbl, cs) =>
      assert(lbl === expected(v), s"doc $v labeled $lbl")
      assert(cs === sizes(lbl), s"cluster $lbl size")
    }
    // transitivity actually exercised: some component must be larger
    // than any single pair
    assert(sizes.values.max >= 3L,
      "fixture graph should chain at least one 3-doc component")
    // round count: after the seed round every vertex holds the minimum
    // of its radius-1 ball, and each propagation round widens that ball
    // by one hop. The last change lands at R, the farthest any vertex
    // sits from its component minimum, and a round then finds nothing
    // to change — max(1, R) rounds exactly.
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
      .withDefaultValue(Array.empty[Long])
    val depth = expected.values.toSeq.distinct.map { root =>
      var frontier = Set(root)
      var seen = frontier
      var d = 0
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)) -- seen
        seen ++= frontier
        if (frontier.nonEmpty) d += 1
      }
      d
    }.max
    val cc = graft.operators.LlmOps.ccLabelFixpoint(spark, sf)
    assert(cc.rounds === math.max(1, depth),
      s"label propagation took ${cc.rounds} rounds; graph depth $depth")
  }

  test("D8: star contraction matches d7 labels on the real near-dup graph") {
    val byStar = graft.operators.LlmOps.d8DedupCcStar.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byProp = graft.operators.LlmOps.d7DedupCc.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(byStar.nonEmpty)
    assert(byStar === byProp,
      "two CC algorithms must agree on the component-min fixpoint")
  }

  test("D8: a 1000-link chain converges in O(log² n) rounds, not diameter") {
    // the adversarial graph for min-label propagation: a path of 1001
    // vertices (diameter 1000). Star contraction must converge in a
    // logarithmic number of alternations — the documented scale caveat
    // this variant exists to close. log2(1001) ≈ 10; the bound below is
    // generous headroom over the observed count while still two orders
    // of magnitude under the diameter.
    val n = 1000
    // shuffle vertex ids so convergence can't lean on ids increasing
    // along the path: bit-reverse each id within 10 bits (a fixed
    // permutation of 0..1023)
    def perm(v: Long): Long =
      (0 until 10).map(i => ((v >> i) & 1L) << (9 - i)).sum
    val chain = (0 until n).map { i =>
      val (x, y) = (perm(i.toLong), perm(i.toLong + 1))
      (math.min(x, y), math.max(x, y))
    }.toDF("a", "b")
    val cc = graft.operators.LlmOps.starContract(chain, 50)
    try {
      assert(cc.rounds <= 25, s"chain of $n links took ${cc.rounds} rounds")
      // every vertex on the path must end up labeled with the component
      // minimum (vertex 0 — bit-reversal fixes 0)
      val lbls = cc.stars.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(lbls.length === n) // n+1 vertices, n of them non-min
      assert(lbls.forall(_._1 === 0L), "all labels must be the global min")
      assert(lbls.map(_._2).toSet === (0 to n).map(v => perm(v.toLong))
        .toSet - 0L)
    } finally cc.release()
  }

  test("T15: held-out scores match a scalar bigram-LM recompute") {
    val out = graft.operators.LlmOps.t15LmScore.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.nonEmpty)
    assert(out.keys.forall(_ % 10 >= 8), "only held-out docs are scored")
    assert(out.values.forall(_._2 < 0.0), "log-probabilities are negative")

    // scalar model with the same h60 keys and rounding discipline
    def h60(s: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        dig.map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ", -1).toSeq)
      .toMap
    val trainPairs = docs.toSeq.filter(_._1 % 10 < 8).flatMap {
      case (_, t) => t.sliding(2).filter(_.length == 2).map(p =>
        (h60("lm2|" + p.mkString(" ")), h60("lm1|" + p.head)))
    }
    val c2 = trainPairs.groupBy(_._1).map { case (k, v) => k -> v.size }
    val c1 = trainPairs.groupBy(_._2).map { case (k, v) => k -> v.size }
    val v = docs.toSeq.filter(_._1 % 10 < 8)
      .flatMap(_._2).map(t => h60("lm1|" + t)).distinct.size
    docs.toSeq.filter { case (id, t) => id % 10 >= 8 && t.length >= 2 }
      .foreach { case (id, t) =>
        val terms = t.sliding(2).filter(_.length == 2).map { p =>
          val num = c2.getOrElse(h60("lm2|" + p.mkString(" ")), 0) + 1
          val den = c1.getOrElse(h60("lm1|" + p.head), 0) + v
          BigDecimal(math.log(num.toDouble / den))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.toSeq
        // mirror the engine: exact DECIMAL sum, cast to double, THEN the
        // double division and 6-digit round
        val want = BigDecimal(terms.sum.toDouble / terms.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (n, avg) = out(id)
        assert(n === terms.length.toLong, s"doc $id bigram count")
        assert(avg === want, s"doc $id avg_logp")
      }
  }

  test("T22: the learned router genuinely separates the gate's classes " +
      "(no majority collapse; the minority class is caught)") {
    // columns: label, n_true, n_guessed, n_correct, prec, rec
    val rep = graft.operators.LlmOps.t22QualityClassifier.fn(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(5)) 0.0 else r.getDouble(5)))).toMap
    assert(rep.keySet === Set("curated", "quarantined"),
      s"both gate classes must appear, got ${rep.keySet}")
    // an oracle-green majority collapse would guess ONE class for
    // everything — the r13 degenerate-operator trap, gated here
    assert(rep.values.forall(_._2 > 0),
      "both classes must be guessed at least once")
    assert(rep.values.forall(_._3 > 0),
      "both classes need correct routings, not just guesses")
    assert(rep("quarantined")._4 >= 0.5,
      "the minority (quarantined) class must be genuinely caught — " +
        s"recall ${rep("quarantined")._4}")
  }

  test("T23: calibration bins partition the held-out set exactly, and " +
      "the margins they bin agree with t22's argmax router") {
    import org.apache.spark.sql.functions._
    val held = graft.operators.LlmOps.t22Docs(spark, sf)
      .filter(col("doc_id") % 10 >= 8).select("doc_id", "label")
    val nHeld = held.count()
    val nCurated = held.filter(col("label") === "curated").count()
    val bins = graft.operators.LlmOps.t23Calibration.fn(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(bins.keySet.forall(b => b >= -4 && b <= 3), "clamped bins")
    assert(bins.values.map(_._1).sum === nHeld,
      "every held-out doc lands in exactly one bin")
    assert(bins.values.map(_._2).sum === nCurated,
      "binned positives must reconcile with the gate's own labels")
    bins.foreach { case (b, (n, nc, rate, _)) =>
      val want = BigDecimal(nc.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rate === want, s"bin $b rate is not its own exact ratio")
    }
    // the report's margins and t22's router are the same decision:
    // sign-of-margin (ties → 'curated', the router's asc tie-break)
    // must reproduce every argmax guess
    val margins = graft.operators.LlmOps.t22Scores(spark, sf)
      .groupBy(col("doc_id"))
      .agg((max(when(col("p_label") === "curated", col("score"))) -
        max(when(col("p_label") === "quarantined", col("score"))))
        .as("m"))
    val viaSign = margins
      .select(col("doc_id"),
        when(col("m") >= 0, "curated").otherwise("quarantined")
          .as("guess"))
    val router = graft.operators.LlmOps.t22Guesses(spark, sf)
    val disagrees = viaSign.as("a")
      .join(router.as("b"), Seq("doc_id"))
      .filter(col("a.guess") =!= col("b.guess")).count()
    assert(disagrees === 0L,
      "sign-of-margin must reproduce the argmax routing exactly")
    // calibration non-vacuity: both sides of the decision boundary are
    // populated (an all-one-bin report can't inform a threshold)
    assert(bins.size >= 2, "at least two margin bins must be occupied")
  }

  test("C12: the resampling draw replays exactly per doc (ln-space " +
      "Bernoulli), weights >= 1 always survive, and both verdicts occur") {
    val rows = graft.operators.LlmOps.c12ImportanceResample
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, logw, logU, accepted) =>
      val u = (java.lang.Math.floorMod(
        graft.functions.Portable.h60Jvm(s"c12|$id"), 1000000L)
        .toDouble + 0.5) / 1000000.0
      val want = BigDecimal(math.log(u))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(logU === want, s"doc $id draw mismatch")
      assert(accepted === (logU < math.min(logw, 0.0)),
        s"doc $id verdict must be the declared ln-space rule")
      if (logw >= 0) assert(accepted, s"doc $id: w >= 1 must survive")
    }
    // the resample must genuinely thin the tail AND keep some of it —
    // a draw that accepts or rejects everything tested nothing
    val neg = rows.filter(_._2 < 0)
    assert(neg.exists(_._4) && neg.exists(!_._4),
      "sub-threshold docs must split into survivors and casualties")
  }

  test("C1c: quality election removes the per-lang worst, never adds") {
    def counts(q: graft.Queries.Q): Map[(String, String), Long] =
      q.fn(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val base = counts(graft.operators.LlmOps.c1CurateCorpus)
    val elected = counts(graft.operators.LlmOps.c1cCurateQuality)
    assert(elected.nonEmpty)
    elected.foreach { case (k, n) =>
      assert(base.contains(k), s"group $k appeared from nowhere")
      assert(n <= base(k), s"group $k grew under a pure filter")
    }
    // the rank election always fires on a corpus with >= 10 docs in
    // some language — a vacuous gate would mean the windows are wrong
    assert(elected.values.sum < base.values.sum,
      "per-lang deciles exist at this sf; some loser must be dropped")
  }

  test("C11: rank-x-quality blend routes a high-rank/low-quality doc " +
      "to rank_only and the reverse to lm_only") {
    import spark.implicits._
    // ranks depend only on (N, doc_id) — g1's edge list is synthetic —
    // so learn the rank order on a throwaway text assignment first,
    // then plant texts on the TOP-rank doc (gibberish: worst LM score)
    // and the BOTTOM-rank doc (the corpus's single best bigram: best
    // LM score) and assert the disagreement routing
    val n = 40L
    def write(dir: String, textOf: Long => String): Unit =
      (0L until n).map(id => (id, textOf(id), "en", "s1"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("c11fix").toString
    write(dir, _ => "x")
    val pr = operators.Graph.g1Pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
    val plantedBad = pr.sortBy { case (id, p) => (-p, id) }.head._1
    val plantedGood = pr.sortBy { case (id, p) => (p, id) }.head._1
    assert(plantedBad !== plantedGood)
    // filler docs carry one rare tail bigram, so their mean logp sits
    // strictly below the lone (the, cat) bigram plantedGood scores
    write(dir, id =>
      if (id == plantedBad) "zq vx qj wk zz"
      else if (id == plantedGood) "the cat"
      else s"the cat sat qx${id % 7}")
    val out = operators.LlmOps.c11RankCuration.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4),
        r.getBoolean(6), r.getString(7)))).toMap
    assert(out.size === n.toInt, "every doc must report a row")
    val (badRank, badLm, _, badSig) = out(plantedBad)
    assert(badRank === 1L, "planted doc must top the rank axis")
    assert(badLm === n, "gibberish must sort last on the lm axis")
    assert(badSig === "rank_only",
      s"high-rank/low-quality must read rank_only, got $badSig")
    val (goodRank, goodLm, _, goodSig) = out(plantedGood)
    assert(goodLm === 1L, "single best bigram must top the lm axis")
    assert(goodRank > n / 10, "planted doc must miss the rank decile")
    assert(goodSig === "lm_only",
      s"low-rank/high-quality must read lm_only, got $goodSig")
    // the blend election keeps exactly the per-language decile
    assert(out.values.count(_._3) === (n / 10).toInt)
  }

  test("C1b: near-dup election only ever removes survivors vs C1") {
    def counts(q: graft.Queries.Q): Map[(String, String), Long] =
      q.fn(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val base = counts(graft.operators.LlmOps.c1CurateCorpus)
    val elected = counts(graft.operators.LlmOps.c1bCurateNeardup)
    assert(elected.nonEmpty)
    // every surviving group existed before, never larger than before
    elected.foreach { case (k, n) =>
      assert(base.contains(k), s"group $k appeared from nowhere")
      assert(n <= base(k), s"group $k grew under a pure filter")
    }
    // and the election actually fired on this corpus
    assert(elected.values.sum < base.values.sum,
      "corpus contains near-dup clusters; some loser must be dropped")
  }

  test("C4: eval fenced, d6 flags quarantined, clean docs keep c2's split") {
    val c4 = operators.LlmOps.c4DecontSplit.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val flagged = operators.LlmOps.d6Decontaminate.fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val c2 = operators.LlmOps.c2SplitAssign.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(c4.keySet === c2.keySet, "every document must be routed")
    c4.foreach { case (id, split) =>
      if (id % 20 == 0) assert(split === "eval", s"doc $id")
      else if (flagged(id)) assert(split === "quarantine", s"doc $id")
      else assert(split === c2(id),
        s"clean doc $id must keep its seeded hash split")
    }
    // the composition is non-vacuous on this corpus: all routes taken
    assert(Set("eval", "quarantine", "train", "valid", "test")
      .subsetOf(c4.values.toSet))
  }

  test("D10: incremental dedup routes every batch doc consistently with d1") {
    val d10 = operators.LlmOps.d10IncrementalDedup.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // total routing: every batch doc appears exactly once
    val batchIds = Tables.documents(spark, sf)
      .filter(col("doc_id") % 4 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(d10.map(_._1).toSet === batchIds && d10.length === batchIds.size)
    // ground truth from d1 (full-corpus fingerprint groups)
    val groups = operators.LlmOps.d1DedupExact.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // h -> min doc_id
    d10.foreach { case (id, h, status) =>
      val fullMin = groups(h)
      status match {
        case "new" =>
          assert(fullMin === id,
            s"doc $id claimed new but full-corpus min is $fullMin")
        case "dup_in_batch" =>
          assert(fullMin % 4 === 0 && fullMin < id, s"doc $id")
        case "dup_of_history" => () // verified by the oracle's hist join
        case other => fail(s"doc $id: unknown status $other")
      }
    }
    // a 'new' doc must be the FIRST sighting anywhere: its fingerprint
    // group contains no history member at all
    val histHashes = Tables.documents(spark, sf)
      .filter(col("doc_id") % 4 =!= 0)
      .select(md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
        .as("h")).distinct().collect().map(_.getString(0)).toSet
    d10.filter(_._3 == "new").foreach { case (id, h, _) =>
      assert(!histHashes(h), s"doc $id 'new' but history holds $h")
    }
    assert(d10.exists(_._3 == "new"), "fixture must exercise every route")
  }

  test("D9: bloom pre-filter admits no false negatives vs d6's exact join") {
    val bloom = operators.LlmOps.d9BloomPrefilter.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = operators.LlmOps.d6Decontaminate.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty, "fixture must exercise the leak path")
    // every exactly-contaminated doc is bloom-flagged (no false negatives),
    // and the bloom gram count dominates the exact count per doc
    exact.foreach { case (id, nExact) =>
      val (nBloom, nExactReported) = bloom.getOrElse(id,
        fail(s"doc $id leaked past the bloom pre-filter"))
      assert(nExactReported === nExact)
      assert(nBloom >= nExact,
        s"doc $id: bloom grams $nBloom < exact grams $nExact")
    }
    // bloom-only rows are false POSITIVES by construction: exact = 0
    bloom.filterNot { case (id, _) => exact.contains(id) }.foreach {
      case (id, (_, e)) => assert(e === 0L, s"doc $id")
    }
  }

  test("hot-bucket guard: 500 boilerplate docs can't go all-pairs (d5 + d2)") {
    // adversarial corpus: 500 near-identical docs — without the guard,
    // their shared anchor grams / band keys each form ONE bucket and
    // candidate generation emits ~500²/2 ≈ 125k pairs
    val boiler = "subscribe to our newsletter for the latest updates and " +
      "offers terms of service apply all rights reserved contact support"
    val hot = (1 to 500).map(i => (i.toLong, s"$boiler edition $i"))
    // a small organic near-dup pair that must SURVIVE the guard
    val organic = Seq(
      (9001L, "the catalyst optimizer rewrites logical plans into " +
        "efficient physical plans using cost based rules"),
      (9002L, "the catalyst optimizer rewrites logical plans into " +
        "efficient physical plans using pattern based rules"))
    val docs = spark.createDataFrame(hot ++ organic).toDF("doc_id", "text")
    val allPairs = 500L * 499L / 2L

    // d5 path: anchor-blocked pair stats
    val d5 = operators.LlmOps.ngramPairStatsOf(docs).cache()
    val nD5 = d5.count()
    assert(nD5 < allPairs / 10,
      s"anchor buckets went quadratic: $nD5 candidate pairs")
    assert(d5.filter(col("id_a") === 9001L && col("id_b") === 9002L)
      .count() === 1, "organic near-dup pair must survive the guard")
    d5.unpersist()

    // d2 path: banded MinHash candidates end-to-end
    val d2 = operators.LlmOps.minhashNearDups(docs, "spec|hotbucket")
    val nD2 = d2.count()
    assert(nD2 < allPairs / 10,
      s"band buckets went quadratic: $nD2 candidate pairs")
    operators.LlmOps.releaseCaches()

    // the diagnostic surfaces what was dropped: the boilerplate anchors
    val anchorish = docs
      .select(col("doc_id"), lit("shared").as("anchor"))
    val dropped = operators.LlmOps.droppedBuckets(anchorish, Seq("anchor"))
      .collect()
    assert(dropped.length === 1 && dropped.head.getLong(1) === 502L)
    // and capBuckets on the same frame keeps nothing
    assert(operators.LlmOps.capBuckets(anchorish, Seq("anchor"))
      .count() === 0L)
  }

  test("D5: pair stats equal a driver-side recompute, hot anchors " +
      "past BUCKET_CAP dropped and one at the cap kept") {
    import operators.LlmOps.{ANCHORS, BUCKET_CAP}
    // a phrase whose trigram hash sits below 2^44 is, with overwhelming
    // odds, the smallest gram of any short doc that carries it: plant
    // one over the cap and one exactly at it
    def hotPhrase(tag: String): String = Iterator.from(0)
      .map(j => s"hot $tag $j")
      .find(p => Portable.h60Jvm("ng|" + p) < (1L << 44)).get
    val over = hotPhrase("over")
    val atCap = hotPhrase("cap")
    val planted =
      (0 until BUCKET_CAP + 6).map(i =>
        (1000000L + i, s"$over u$i v$i")) ++
        (0 until BUCKET_CAP).map(i => (2000000L + i, s"$atCap w$i x$i"))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(planted.toDF("doc_id", "text"))
    // the independent recompute: trigram sets hashed on the JVM, the
    // ANCHORS smallest per doc, buckets past the cap dropped, all pairs
    // within the surviving buckets, exact set sizes
    val sets = docs.collect().flatMap { r =>
      Option(r.getString(1)).map { text =>
        val t = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
        r.getLong(0) -> t.sliding(3).filter(_.length == 3)
          .map(g => Portable.h60Jvm("ng|" + g.mkString(" "))).toSet
      }
    }.filter(_._2.nonEmpty).toMap
    val buckets = sets.toSeq
      .flatMap { case (id, g) => g.toSeq.sorted.take(ANCHORS).map(_ -> id) }
      .groupBy(_._1).map { case (a, m) => a -> m.map(_._2) }
    val overAnchor = Portable.h60Jvm("ng|" + over)
    val capAnchor = Portable.h60Jvm("ng|" + atCap)
    assert(buckets(overAnchor).size === BUCKET_CAP + 6)
    assert(buckets(capAnchor).size === BUCKET_CAP)
    val want = buckets.values.filter(_.size <= BUCKET_CAP)
      .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSet[(Long, Long)]
      .map { case (a, b) => (a, b, (sets(a) & sets(b)).size.toLong,
        sets(a).size.toLong, sets(b).size.toLong) }
    val got = operators.LlmOps.ngramPairStatsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.size === got.toSet.size, "a pair is reported twice")
    assert(got.toSet === want)
    val capIds = buckets(capAnchor).toSet
    assert(got.count(p => capIds(p._1) && capIds(p._2)) ===
      BUCKET_CAP * (BUCKET_CAP - 1) / 2, "the at-cap bucket must survive")
    assert(!got.exists(p => p._1 >= 1000000L && p._1 < 2000000L),
      "the over-cap bucket must be dropped")
  }

  test("C5: temperature mix replicates a driver-side gate on planted skew") {
    // strata 512 / 128 / 32 docs: rates 0.25 / 0.5 / 1.0 — the smallest
    // stratum keeps everything, and sampled sizes follow sqrt scaling
    val docs = (
      (1 to 512).map(i => (i.toLong, "big")) ++
        (1001 to 1128).map(i => (i.toLong, "mid")) ++
        (2001 to 2032).map(i => (i.toLong, "small"))
      ).toDF("doc_id", "lang")
    val out = operators.LlmOps.temperatureMixOf(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("small") === ((32L, 32L, 1.0)), "min stratum keeps all")
    assert(out("big")._3 === 0.25 && out("mid")._3 === 0.5)
    // independent driver-side replication of the whole gate
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("mix|" + s).getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    for ((lang, n) <- Seq("big" -> 512L, "mid" -> 128L, "small" -> 32L)) {
      val thr = math.floor(math.sqrt(32.0 / n) * math.pow(2, 60)).toLong
      val ids = docs.filter(col("lang") === lang)
        .collect().map(_.getLong(0))
      val expect = ids.count(id => h60(id.toString) < thr)
      assert(out(lang)._2 === expect.toLong,
        s"$lang: gate must be auditable from ids alone")
    }
  }

  test("C9: epoch budgeting equals the independent water-filling " +
    "recompute on planted skew, and the books balance") {
    // sources sized 10 / 100 / 1000 tokens: the uniform share (B/3 =
    // 1480) caps tiny and mid in round 1, the freed budget flows to
    // big in round 2, and with budget epochs == max epochs the whole
    // corpus allocates exactly (unalloc == 0 proves redistribution)
    def doc(id: Long, src: String, nTok: Int) =
      (id, Seq.fill(nTok)("w").mkString(" "), "en", src)
    val docs = (
      (0 until 2).map(i => doc(i.toLong, "tiny", 5)) ++
        (10 until 20).map(i => doc(i.toLong, "mid", 10)) ++
        (100 until 120).map(i => doc(i.toLong, "big", 50))
      ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("c9fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.c9EpochBudget.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getLong(6))))
      .toMap
    // independent recompute of the unrolled fill
    val n = Map("tiny" -> 10L, "mid" -> 100L, "big" -> 1000L)
    val cap = n.view.mapValues(_ * operators.LlmOps.C9_MAX_EPOCHS).toMap
    val b = n.values.sum * operators.LlmOps.C9_BUDGET_EPOCHS
    var a = n.keys.map(_ -> 0L).toMap
    for (_ <- 1 to operators.LlmOps.C9_ROUNDS) {
      val rem = b - a.values.sum
      val kun = a.count { case (s, v) => v < cap(s) }
      if (kun > 0)
        a = a.map { case (s, v) =>
          s -> (if (v < cap(s)) math.min(cap(s), v + rem / kun) else v) }
    }
    for (s <- n.keys) {
      assert(out(s) === ((n(s), cap(s), a(s), a(s) * 1000 / n(s),
        a(s) == cap(s), b - a.values.sum)),
        s"source $s row must match the recompute")
    }
    // books: every token of budget is either allocated or reported
    assert(out.values.map(_._3).sum + out.values.head._6 === b)
    assert(out("tiny")._5 && out("mid")._5, "small sources cap")
    assert(out("big")._3 === cap("big"),
      "freed budget reached the big source across rounds")
    assert(out.values.head._6 === 0L,
      "budget epochs == cap epochs: full allocation, zero stranded")
    // nobody exceeds the repeat ceiling
    out.values.foreach(v => assert(v._4 <= 4000L))
  }

  test("E4: the composed pipeline agrees with its component queries " +
    "doc for doc, and the manifest adds up") {
    val routed = operators.LlmOps.e4Routed(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getString(3)))).toMap
    // 1. routing: every surviving doc takes exactly c4's split (c4
    //    routes the WHOLE corpus with the same fence/quarantine/hash
    //    rules, so on the survivor subset they must agree)
    val c4 = operators.LlmOps.c4DecontSplit.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    routed.foreach { case (id, (_, _, split)) =>
      assert(split === c4(id), s"doc $id: e4 and c4 disagree on routing")
    }
    // 2. elections: no survivor is a d7 near-dup non-canonical, and
    //    every survivor is its exact-dedup group's minimum
    val ccLosers = operators.LlmOps.d7DedupCc.fn(spark, sf)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(routed.keySet.intersect(ccLosers).isEmpty,
      "a near-dup cluster loser survived")
    val groupMin = operators.LlmOps.d1DedupExact.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // h -> min doc_id
    assert(routed.keySet.subsetOf(groupMin.values.toSet),
      "a non-canonical exact duplicate survived")
    // 3. manifest: per-source train pack counts replicate a driver-side
    //    running-sum pack assignment over the routed train docs
    val report = operators.LlmOps.e4LlmPipeline.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(report.values.map(_._1).sum === routed.size.toLong,
      "manifest doc counts must add up to the routed set")
    val trainBySrc = routed.toSeq.collect {
      case (id, (src, n, "train")) => (src, id, n) }
      .groupBy(_._1)
    trainBySrc.foreach { case (src, ds) =>
      var cum = 0L
      var lastPack = -1L
      ds.sortBy(_._2).foreach { case (_, _, n) =>
        lastPack = cum / 512; cum += n
      }
      assert(report(("train", src))._3 === lastPack + 1,
        s"source $src: pack count must match the running-sum assignment")
    }
    report.foreach { case ((split, _), (_, _, np)) =>
      if (split != "train") assert(np === -1L,
        "n_packs must be NULL outside the train split")
    }
    // non-vacuous on this corpus: all five routes taken, packs > 1
    assert(routed.values.map(_._3).toSet ===
      Set("eval", "quarantine", "train", "valid", "test"))
    assert(trainBySrc.exists { case (src, _) =>
      report(("train", src))._3 > 1L })
  }

  test("D11: duplicated substrings merge into maximal spans; " +
    "within-doc repeats are not duplication") {
    // vocabularies are disjoint so only the PLANTED runs collide.
    def toks(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")
    val run12 = toks("r", 12) // 12-token run shared by docs 1 and 2
    val b1 = toks("b", 8) // 8-token block shared by docs 5 and 6
    val b2 = toks("c", 8) // 8-token block shared by docs 5 and 7
    val b3 = toks("e", 8) // 8-token block shared by docs 8 and 9
    val docs = Seq(
      // run12 at pos 5 of doc 1 (25 tokens) and pos 0 of doc 2 (20)
      (1L, (toks("a", 5) ++ run12 ++ toks("z", 8)).mkString(" ")),
      (2L, (run12 ++ toks("y", 8)).mkString(" ")),
      (3L, toks("u", 30).mkString(" ")), // fully unique: absent
      // doc 4 repeats one 8-gram twice WITHIN itself only: absent
      (4L, (toks("w", 8) ++ toks("q", 4) ++ toks("w", 8)).mkString(" ")),
      // doc 5: b1 at pos 4, b2 at pos 12 — dup windows exactly K
      // apart (the straddling windows are unique to doc 5), so the
      // islands MERGE into one contiguous 16-token span
      (5L, (toks("f", 4) ++ b1 ++ b2 ++ toks("g", 4)).mkString(" ")),
      (6L, (toks("h", 6) ++ b1 ++ toks("i", 6)).mkString(" ")),
      (7L, (toks("j", 6) ++ b2 ++ toks("k", 6)).mkString(" ")),
      // doc 8: b1 at pos 0, b3 at pos 9 — gap of 9 > K: two spans
      (8L, (b1 ++ toks("m", 1) ++ b3 ++ toks("n", 3)).mkString(" ")),
      (9L, (toks("p", 7) ++ b3 ++ toks("s", 7)).mkString(" "))
    ).toDF("doc_id", "text")
    val out = operators.LlmOps.substringDedupOf(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // (n_spans, n_dup_tokens) per doc; docs 3 and 4 must be absent
    assert(out === Map(
      1L -> ((1L, 12L)), 2L -> ((1L, 12L)),
      5L -> ((1L, 16L)), 6L -> ((1L, 8L)), 7L -> ((1L, 8L)),
      8L -> ((2L, 16L)), 9L -> ((1L, 8L))))
  }

  test("D12: planted paraphrase pair loses its cluster-core member only") {
    // cell 0: vecs 1/2 are a paraphrase pair (cosine ≈ 1), vec 3 is
    // orthogonal to both; cell 1: vec 4 alone. SemDeDup's survivor rule
    // (keep the member FARTHEST from its centroid) must drop exactly
    // vec 1 — the pair member with the HIGHER csim — and never touch
    // the orthogonal or singleton vectors. Cross-cell near-dups (vec 4
    // duplicates vec 2's direction) must NOT pair: SemDeDup only ever
    // compares within a cluster. The election runs over an EXPLICIT
    // candidate list (production feeds it bandedNearDups' pairs; the
    // blocker's own recall is BandedLshRecallSpec's subject) — here the
    // exhaustive pair list, so the election rule itself is what's
    // proven.
    val cells = Seq(
      (1L, 0, 0.90, Array(1.0f, 0.01f, 0.0f)),
      (2L, 0, 0.80, Array(1.0f, 0.02f, 0.0f)),
      (3L, 0, 0.70, Array(0.0f, 0.0f, 1.0f)),
      (4L, 1, 0.60, Array(1.0f, 0.015f, 0.0f))
    ).toDF("vec_id", "cell", "csim", "emb")
    def side(n: String) = cells.select(
      col("vec_id").as(s"id_$n"), col("emb").as(s"emb_$n"))
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * y), " +
        "0D, (acc, x) -> acc + x)"
    val pairs = side("a").crossJoin(side("b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr(s"${dot("emb_a", "emb_b")} / " +
          s"(sqrt(${dot("emb_a", "emb_a")}) * " +
          s"sqrt(${dot("emb_b", "emb_b")}))"), 6).as("sim"))
    val out = operators.Ann
      .semanticElectOver(cells.drop("emb"), pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out === Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }

  test("T16: each Gopher rule fails exactly its planted violator") {
    // one doc per rule, each violating ONLY that rule, plus one clean
    // doc — proves the rules are independent and the verdicts land on
    // the right stat (a composite filter that's accidentally keyed on
    // the wrong column would still pass a pass/fail-only check)
    val clean = (("word " * 30) + ("the " * 10) + ("of " * 10)).trim
    val docs = Seq(
      (1L, clean, "en", "s1"), // passes all five
      (2L, (("word " * 20) + "the of").trim, "en", "s1"), // 22 words: r_word_count
      (3L, (("a " * 48) + "the of").trim, "en", "s1"), // mean len < 3: r_word_len
      (4L, (("w.o.r.d.s. " * 48) + "the of").trim, "en", "s1"), // r_symbol
      (5L, (("1234 " * 48) + "the of").trim, "en", "s1"), // digits: r_alpha
      (6L, ("word " * 50).trim, "en", "s1") // no stopwords: r_stop
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t16fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.t16GopherRules.fn(spark, dir)
      .select("doc_id", "r_word_count", "r_word_len", "r_symbol",
        "r_alpha", "r_stop", "n_failed", "pass")
      .collect()
      .map(r => r.getLong(0) -> (1 to 7).map(r.get)).toMap
    assert(out(1L) === Seq(true, true, true, true, true, 0L, true))
    assert(out(2L) === Seq(false, true, true, true, true, 1L, false))
    assert(out(3L) === Seq(true, false, true, true, true, 1L, false))
    assert(out(4L) === Seq(true, true, false, true, true, 1L, false))
    assert(out(5L) === Seq(true, true, true, false, true, 1L, false))
    assert(out(6L) === Seq(true, true, true, true, false, 1L, false))
  }

  test("D14: URL canonicalization merges cosmetic variants, keeps real ones") {
    // doc_ids 0-7 = two groups of four variant shapes. Within a group,
    // variants 0/1/2 differ ONLY cosmetically (case, www., :443,
    // trailing slash, utm_* params, param order, fragment) and must
    // collapse to one canonical URL with the min doc_id as keeper;
    // variant 3 carries a REAL param difference (b=3) and must stay its
    // own family — over-merging is the bug this pins.
    val docs = (0L to 7L).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d14fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.d14UrlDedup.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set(
      "https://d0.example.com/docs/0?a=1&b=2",
      "https://d0.example.com/docs/0?a=1&b=3",
      "https://d1.example.com/docs/1?a=1&b=2",
      "https://d1.example.com/docs/1?a=1&b=3"))
    // three cosmetic variants collapse; raw forms were genuinely distinct
    assert(out("https://d0.example.com/docs/0?a=1&b=2") === ((3L, 3L, 0L)))
    assert(out("https://d1.example.com/docs/1?a=1&b=2") === ((3L, 3L, 4L)))
    // the real-param variant stays alone, fragment stripped
    assert(out("https://d0.example.com/docs/0?a=1&b=3") === ((1L, 1L, 3L)))
    assert(out("https://d1.example.com/docs/1?a=1&b=3") === ((1L, 1L, 7L)))
  }

  test("D15: cross-doc duplicated lines drop everywhere but their first-" +
    "sighted doc; unique lines and within-doc repeats survive") {
    // LINE_W = 4, so each 4-token group below is one "line".
    // line B ("bb bb bb bb") appears in docs 1, 2, and 3 -> kept only in
    // doc 1 (min doc_id owner). line R repeats TWICE inside doc 2 but in
    // no other doc -> both copies kept (within-doc repetition is t13's
    // concern, not this pass). doc 3 is B+B -> every line dropped,
    // rebuilt text must be the EMPTY STRING (not null) in both engines.
    val docs = Seq(
      (1L, "bb bb bb bb aa aa aa aa"), // B + unique A
      (2L, "rr rr rr rr bb bb bb bb rr rr rr rr"), // R + B + R
      (3L, "bb bb bb bb bb bb bb bb"), // B + B -> fully dropped
      (4L, "cc cc cc cc dd dd") // unique lines, short tail line
    ).map { case (id, t) => (id, t, "en", "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d15fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.d15LineDedup.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))))
      .toMap
    assert(out(1L) === ((2L, 0L, 1.0, "bb bb bb bb aa aa aa aa")),
      "owner doc keeps its copy of the shared line")
    assert(out(2L) === ((3L, 1L, round2(2.0 / 3), "rr rr rr rr rr rr rr rr")),
      "only the cross-doc line drops; within-doc repeats both survive")
    assert(out(3L) === ((2L, 2L, 0.0, "")),
      "a fully-boilerplate doc rebuilds to the empty string")
    assert(out(4L) === ((2L, 0L, 1.0, "cc cc cc cc dd dd")),
      "the short tail segment is a line too — no dropped tail")
  }

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("D16: arriving lines drop against standing FINGERPRINTS with " +
    "provenance; batch-internal dups elect a batch owner") {
    // standing = doc_id % 4 != 0, batch = doc_id % 4 == 0 (d10's split).
    // line B ("bb bb bb bb") lives in standing docs 1 and 2 -> every
    // batch copy drops as 'standing' (the standing owner already
    // carries it; the batch must NOT re-elect it). line S ("ss ss ss
    // ss") is shared only WITHIN the batch (docs 0 and 4) -> doc 0
    // keeps it (min batch doc_id), doc 4 drops it as 'batch'. unique
    // lines survive untouched.
    val docs = Seq(
      (1L, "bb bb bb bb standing one extra text"), // standing: B + unique
      (2L, "bb bb bb bb standing two other words"), // standing: B + unique
      (0L, "bb bb bb bb ss ss ss ss zz zz zz zz"), // batch: B + S + U0
      (4L, "ss ss ss ss yy yy yy yy"), // batch: S + U4
      (8L, "ww ww ww ww xx xx xx xx") // batch: all unique
    ).map { case (id, t) => (id, t, "en", "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d16fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.d16IncrementalLineDedup.fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5))))
      .toMap
    // only batch docs report (standing is touched via fingerprints only)
    assert(out.keySet === Set(0L, 4L, 8L))
    assert(out(0L) === ((3L, 1L, 0L, round2(2.0 / 3),
      "ss ss ss ss zz zz zz zz")),
      "standing line drops with 'standing' provenance; batch owner keeps S")
    assert(out(4L) === ((2L, 0L, 1L, 0.5, "yy yy yy yy")),
      "the non-owner batch copy drops with 'batch' provenance")
    assert(out(8L) === ((2L, 0L, 0L, 1.0, "ww ww ww ww xx xx xx xx")),
      "batch-unique lines survive untouched")
  }

  test("T18: BM25 ranks by idf, tf saturation, and length normalization") {
    // six planted docs whose token dfs force the derived query workload
    // exactly: termaa/termbb df=6 -> q0, termcc/termdd df=4 -> q1,
    // termee/termff df=2 -> q2 (the only len>=5 tokens; the "w" filler
    // is length-1, excluded). Each BM25 behavior then has a doc pair
    // that isolates it.
    val w = (n: Int) => ("w " * n).trim
    val docs = Seq(
      (1L, s"termaa termbb termcc termdd termee termff ${w(4)}"), // dl 10
      (2L, s"termaa termbb termcc termdd termee termff ${w(24)}"), // dl 30
      (3L, s"termaa termbb termcc termcc termcc termdd ${w(4)}"), // tf 3
      (4L, s"termaa termbb termcc termdd ${w(6)}"), // dl 10, tf 1
      (5L, s"termaa termbb ${w(8)}"),
      (6L, s"termaa termbb ${w(8)}")
    ).map { case (id, t) => (id, t, "en", "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t18fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.t18Bm25.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet.map(_._1) === Set(0L, 1L, 2L),
      "three two-term queries derive from the planted dfs")
    // q2 (rare terms): only docs 1-2 carry them; same tf, dl 10 vs 30
    // -> length normalization ranks the shorter doc first
    assert(out.keySet.filter(_._1 == 2L).map(_._2) === Set(1L, 2L))
    assert(out((2L, 1L))._3 === 1L && out((2L, 2L))._3 === 2L,
      "shorter doc outranks longer at equal tf (length normalization)")
    assert(out((2L, 1L))._2 === 2L, "both q2 terms matched in doc 1")
    // idf: q2's terms (df 2) outscore q0's (df 6) at equal tf and dl
    assert(out((2L, 1L))._1 > out((0L, 1L))._1,
      "rarer terms score higher at equal tf/dl (idf)")
    // tf: doc 3 (termcc x3) outranks the tf-1 docs in q1, but
    // sublinearly — BM25's saturating tf term, not raw tf*idf
    assert(out((1L, 3L))._3 === 1L, "tf-3 doc ranks first in q1")
    assert(out((1L, 3L))._1 < 2.0 * out((1L, 4L))._1,
      "tf saturation: 3x the tf earns less than 2x the two-term score")
  }

  test("T19: DSIR weights rank raw docs by target-likeness, sign included") {
    // target split = doc_id % 20 == 0. Doc 1 repeats the target doc's
    // vocabulary verbatim -> its features are target-heavy -> positive
    // weight, selected. Doc 2 uses vocabulary the target never emits ->
    // negative, rejected. Doc 3 mixes half and half -> strictly between.
    val docs = Seq(
      (0L, "tgtaa tgtbb tgtcc tgtdd"), // target
      (20L, "tgtaa tgtbb tgtcc tgtdd"), // target
      (1L, "tgtaa tgtbb tgtcc tgtdd"),
      (2L, "rawaa rawbb rawcc rawdd"),
      (3L, "tgtaa tgtbb rawcc rawdd")
    ).map { case (id, t) => (id, t, "en", "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t19fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.t19DsirWeights.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L), "target docs never score")
    assert(out(1L)._1 > 0 && out(1L)._2, "target-voiced doc selected")
    assert(out(2L)._1 < 0 && !out(2L)._2, "raw-only-voiced doc rejected")
    assert(out(1L)._1 > out(3L)._1 && out(3L)._1 > out(2L)._1,
      "weights are monotone in target-vocabulary share")
  }

  test("D6b: eval-side leak report counts offenders, grams, and the worst source") {
    val docs = Seq(
      (0L, "a b c d e f", "en", "s1"), // eval (id % 20 == 0), 3 grams
      (1L, "a b c d x", "en", "s1"), // shares {a b c d}
      (2L, "a b c d e y", "en", "s1"), // shares {a b c d, b c d e}
      (3L, "q r s t u", "en", "s1"), // clean
      (20L, "j k l m n", "en", "s1") // eval, unleaked → absent
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("d6bfix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.d6bLeakReport.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet === Set(0L), "only the leaked eval doc reports")
    val (nDocs, nLeaked, nGrams, frac, worst, worstShared) = out(0L)
    assert(nDocs === 2L) // docs 1 and 2
    assert(nLeaked === 2L) // {a b c d, b c d e}
    assert(nGrams === 3L)
    assert(frac === 0.666667)
    assert(worst === 2L && worstShared === 2L,
      "doc 2 shares two grams; doc 1 only one")
  }

  test("T17: novelty is 0 for exact duplicates and 1 for unique content") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s1"),
      (2L, "alpha beta gamma delta epsilon", "en", "s1"), // exact dup of 1
      (3L, "zeta eta theta iota kappa", "en", "s1"), // fully unique
      // shares its first trigram with nothing, but doc 5 repeats its
      // middle: partial novelty
      (4L, "lambda mu nu xi omicron", "en", "s1"),
      (5L, "pi rho mu nu xi sigma", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t17fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.LlmOps.t17Novelty.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === 0.0 && out(2L) === 0.0,
      "every trigram of an exact duplicate occurs in the other copy")
    assert(out(3L) === 1.0, "a fully unique doc is fully novel")
    // doc 4: trigrams {lambda mu nu, mu nu xi, nu xi omicron}; doc 5
    // carries "mu nu xi" → novelty 2/3
    assert(out(4L) === 0.666667)
    assert(out(5L) > 0.7 && out(5L) < 0.8) // 3 of its 4 trigrams novel
  }

  test("C8: shard shuffle is deterministic, complete, and dense per shard") {
    val run1 = operators.LlmOps.c8ShardShuffle.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val run2 = operators.LlmOps.c8ShardShuffle.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // reproducible from the seed alone: two evaluations identical
    assert(run1.toSet === run2.toSet)
    // every doc exactly once
    assert(run1.length === graft.Tables.documents(spark, sf).count())
    assert(run1.map(_._1).distinct.length === run1.length)
    // positions are dense 0..n-1 within each shard (a writer can lay
    // the shard out by pos with no gaps)
    for ((shard, rows) <- run1.groupBy(_._2)) {
      val ps = rows.map(_._3).sorted
      assert(ps === (0L until rows.length).toArray.toSeq,
        s"shard $shard positions not dense")
    }
    // seeded-hash balance: no shard more than 3x the smallest (loose
    // bound; binomial concentration at ~n/16 per shard)
    val sizes = run1.groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 3 * math.max(1, sizes.min), s"imbalance: $sizes")
  }

  test("C7: terciles are contiguous in score, balanced, and complete") {
    val rows = operators.LlmOps.c7CcnetBuckets.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5))) // lang, bucket, n, best, worst
    val langs = rows.map(_._1).distinct
    for (lang <- langs) {
      val by = rows.filter(_._1 == lang).map(r => r._2 -> r).toMap
      assert(by.keySet === Set("head", "middle", "tail"))
      // ntile balance: sizes differ by at most 1
      val sizes = by.values.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang sizes $sizes")
      // contiguity: head's worst score >= middle's best, etc. (ordering
      // is avg_logp DESC; ties may touch, hence >=)
      assert(by("head")._5 >= by("middle")._4, s"$lang head/middle")
      assert(by("middle")._5 >= by("tail")._4, s"$lang middle/tail")
    }
    // completeness: every scored doc (>= 2 tokens) is in exactly one bucket
    val nScored = graft.Tables.documents(spark, sf)
      .filter(size(split(lower(col("text")), " ")) >= 2).count()
    assert(rows.map(_._3).sum === nScored)
  }

  test("d17: incremental near-dup routes replay driver-side — history " +
      "beats batch, the min-owner keeps 'new', and signature " +
      "agreement is the verifier") {
    import spark.implicits._
    // standing 1 == batch 4 (dup_of_history, all mins agree);
    // batch 8 == batch 12 (12 routes dup_in_batch to owner 8, which
    // itself stays new — the asymmetric min-owner convention);
    // batch 16 shares nothing (new); 2/3 are standing-only noise
    val fixture = Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "standing only words here nothing else",
      3L -> "more standing filler text rows again",
      4L -> "alpha beta gamma delta epsilon zeta",
      8L -> "one two three four five six seven",
      12L -> "one two three four five six seven",
      16L -> "totally unique vocabulary nothing shared anywhere")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d17-fix").toString
    fixture.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent replay: bigram shingles → P seeded mins → band keys
    // → per-slice caps (vacuous here) → candidates → agreement count
    import graft.functions.Portable.h60Jvm
    val P = 8; val BANDS = 4
    def md5hex(s0: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sig(text: String): Seq[Long] = {
      val t = text.toLowerCase.split(" ").toSeq
      val sh = t.sliding(2).map(_.mkString(" "))
        .map(g => h60Jvm(s"sh|$g")).toSet
      (0 until P).map(i => sh.map(v => h60Jvm(s"mh$i|$v")).min)
    }
    def bandKeys(m: Seq[Long]): Seq[(Int, String)] =
      (0 until BANDS).map(b => b -> md5hex(s"${m(2 * b)},${m(2 * b + 1)}"))
    val sigs = fixture.toMap.map { case (id, t) => id -> sig(t) }
    val standing = Seq(1L, 2L, 3L); val batch = Seq(4L, 8L, 12L, 16L)
    def cands(ids: Seq[Long], of: Long): Seq[Long] =
      ids.filter(o => o != of &&
        bandKeys(sigs(o)).toSet.intersect(bandKeys(sigs(of)).toSet).nonEmpty)
    def nMatch(a: Long, b: Long): Long =
      (0 until P).count(i => sigs(a)(i) == sigs(b)(i)).toLong
    val expected = batch.map { b =>
      val hist = cands(standing, b).map(s0 => (s0, nMatch(b, s0)))
        .filter(_._2 >= 4).sortBy { case (id, n) => (-n, id) }.headOption
      val inb = cands(batch.filter(_ < b), b).map(o => (o, nMatch(b, o)))
        .filter(_._2 >= 4).sortBy { case (id, n) => (-n, id) }.headOption
      b -> (hist.map { case (id, n) => ("dup_of_history", id, n) }
        .orElse(inb.map { case (id, n) => ("dup_in_batch", id, n) })
        .getOrElse(("new", -1L, 0L)))
    }.toMap
    assert(expected(4L) === (("dup_of_history", 1L, 8L)))
    assert(expected(12L) === (("dup_in_batch", 8L, 8L)))
    assert(expected(8L)._1 === "new",
      "the smaller-id twin is the owner and must stay new")
    assert(expected(16L)._1 === "new")
    val got = operators.LlmOps.d17IncrementalNeardup.fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet === batch.toSet, "one row per batch doc")
    for ((b, e) <- expected)
      assert(got(b) === e, s"doc $b diverges from the replay")
  }
}
