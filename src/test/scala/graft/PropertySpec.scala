package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests over the core set-operation invariants (SURVEY §5.3),
  * driven by ScalaCheck generators with a fixed seed (deterministic, no
  * scalatestplus bridge needed). The properties are about SEMANTICS
  * (row counts, partitions), so small generated frames suffice. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val idLists: Gen[List[Long]] =
    Gen.listOfN(30, Gen.chooseNum(0L, 20L))

  /** Deterministic sample stream from a fixed seed. */
  private def samples(n: Int): Seq[(List[Long], List[Long])] =
    (0 until n).map { i =>
      val p = Gen.zip(idLists, idLists)
        .pureApply(Gen.Parameters.default, Seed(42L + i))
      p
    }

  test("H60: the JVM h60 equals the relational Portable.h60 column on " +
      "random strings, non-ASCII included") {
    import org.apache.spark.sql.functions.col
    // code points from ASCII, Latin-1, CJK and the supplementary planes
    // (surrogate pairs in the JVM string, 4-byte UTF-8)
    val codePoint: Gen[Int] = Gen.frequency(
      4 -> Gen.chooseNum(0x20, 0x7e), 1 -> Gen.chooseNum(0xa0, 0xff),
      1 -> Gen.chooseNum(0x4e00, 0x9fff), 1 -> Gen.chooseNum(0x1f300, 0x1faff))
    val strings: Gen[String] = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, codePoint).map(cps => new String(cps.toArray, 0, cps.length)))
    val xs = (0 until 1000).map(i =>
      strings.pureApply(Gen.Parameters.default, Seed(9000L + i))).distinct
    assert(xs.exists(_.exists(_ > 0x7f)), "the sample must hold non-ASCII")
    val rel = xs.toDF("s")
      .select(col("s"), functions.Portable.h60(col("s"), "pp|"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rel.size === xs.size)
    xs.foreach(x => assert(functions.Portable.h60Jvm("pp|" + x) === rel(x),
      s"h60 mismatch for '$x'"))
  }

  test("U1: union row count is the sum of input row counts") {
    samples(10).foreach { case (xs, ys) =>
      assert(xs.toDF("id").unionByName(ys.toDF("id")).count() ===
        xs.length + ys.length)
    }
  }

  test("J2/J3: anti ∪ semi partitions the work-list for ANY existing set") {
    samples(10).foreach { case (xs, ys) =>
      val work = xs.distinct.toDF("id")
      val existing = ys.toDF("id")
      val semi = work.join(existing, Seq("id"), "left_semi")
      val anti = work.join(existing, Seq("id"), "left_anti")
      assert(semi.count() + anti.count() === xs.distinct.length)
      assert(semi.intersect(anti).count() === 0)
    }
  }

  test("A3: distinct is idempotent and bounded by input size") {
    samples(10).foreach { case (xs, _) =>
      val d = xs.toDF("id").distinct()
      assert(d.count() === xs.distinct.length)
      assert(d.distinct().count() === d.count())
    }
  }

  test("P11: pivot∘unpivot is the identity on equal-length arrays") {
    import org.apache.spark.sql.functions._
    val arrayPairs: Gen[(List[Long], List[Long])] = for {
      n <- Gen.chooseNum(1, 12)
      a <- Gen.listOfN(n, Gen.chooseNum(-100L, 100L))
      b <- Gen.listOfN(n, Gen.chooseNum(-100L, 100L))
    } yield (a, b)
    (0 until 8).foreach { i =>
      val (a, b) = arrayPairs
        .pureApply(Gen.Parameters.default, Seed(7L + i))
      val unpivoted = Seq((1L, a, b)).toDF("id", "a", "b")
        .select(col("id"), posexplode(arrays_zip(col("a"), col("b"))))
        .select(col("id"), col("pos"), col("col.a").as("va"),
          col("col.b").as("vb"))
      // re-pivot: collect positionally-sorted values back into arrays
      val repivoted = unpivoted.groupBy(col("id"))
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, va))), s -> s.va)")
            .as("a"),
          expr("transform(array_sort(collect_list(struct(pos, vb))), s -> s.vb)")
            .as("b"))
        .collect().head
      assert(repivoted.getSeq[Long](1).toList === a)
      assert(repivoted.getSeq[Long](2).toList === b)
    }
  }

  test("P9: normalization is total over records with arbitrary missing keys") {
    import org.apache.spark.sql.functions._
    val recs: Gen[List[(Long, Option[String], Option[Double], Option[Boolean])]] =
      Gen.listOfN(25, for {
        id <- Gen.chooseNum(0L, 1000L)
        name <- Gen.option(Gen.alphaStr.map(_.take(8)))
        dist <- Gen.option(Gen.chooseNum(0.0, 1e6))
        hr <- Gen.option(Gen.oneOf(true, false))
      } yield (id, name, dist, hr))
    (0 until 6).foreach { i =>
      val rows = recs.pureApply(Gen.Parameters.default, Seed(99L + i))
      val df = rows.toDF("id", "name", "distance", "has_heartrate")
      val norm = df.select(
        col("id"),
        coalesce(col("name"), lit("unknown")).as("name"),
        coalesce(col("distance"), lit(0.0)).as("distance"),
        coalesce(col("has_heartrate"), lit(false)).as("has_heartrate"),
        when(coalesce(col("has_heartrate"), lit(false)),
          col("distance")).otherwise(lit(null)).as("hr_field"),
        struct(col("id").as("id"), lit(2).as("resource_state"))
          .as("athlete"))
      val out = norm.collect() // totality: no record may throw
      assert(out.length === rows.length)
      // defaults fully applied: no nulls outside the conditional field
      assert(norm.filter(col("name").isNull || col("distance").isNull ||
        col("has_heartrate").isNull).count() === 0)
    }
  }

  test("T9: packing invariants — offsets in [0, budget), ids/offsets " +
    "equal a sequential recompute, every doc assigned exactly once") {
    // columns: doc_id, source, n_tokens, pack_id, pack_offset
    val rows = graft.operators.LlmOps.t9SequencePack.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val budget = 512L
    rows.foreach { r =>
      assert(r.getLong(4) >= 0L && r.getLong(4) < budget,
        "a doc starts in the pack its first token lands in")
    }
    // every doc exactly once
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    // ground truth, recomputed sequentially per shard: pack_id/offset
    // must equal floor/mod of the running sum of preceding token counts
    rows.groupBy(_.getString(1)).foreach { case (_, shard) =>
      var before = 0L
      shard.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) === before / budget, "pack_id")
        assert(r.getLong(4) === before % budget, "pack_offset")
        before += r.getLong(2)
      }
    }
  }

  test("C2: split assignment is deterministic, total, and ~8/1/1") {
    val a = graft.operators.LlmOps.c2SplitAssign.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = graft.operators.LlmOps.c2SplitAssign.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a === b, "seeded hash split must be run-stable")
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac.keySet === Set("train", "valid", "test"))
    assert(frac("train") > 0.6 && frac("train") < 0.95)
    assert(frac("valid") > 0.02 && frac("test") > 0.02)
    // growth stability: a doc's split never changes when the corpus
    // shrinks (hash of the id alone, no corpus-dependent state)
    val subset = graft.Tables.documents(spark, sf).limit(100)
    import org.apache.spark.sql.functions._
    val bucket =
      graft.functions.Portable.h60(col("doc_id").cast("string"), "split|") % 10
    val sub = subset.select(col("doc_id"),
      when(bucket < 8, lit("train")).when(bucket === 8, lit("valid"))
        .otherwise(lit("test")).as("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    sub.foreach { case (id, split) => assert(a(id) === split) }
  }

  test("C3: stratified sample is run-stable, per-stratum rated, id-local") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = graft.operators.LlmOps.c3StratifiedSample.fn(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val b = graft.operators.LlmOps.c3StratifiedSample.fn(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(a === b, "hash gate must be run-stable")
    assert(a.nonEmpty && a.size < docs.size, "must actually downsample")
    // un-named strata pass through untouched
    val de = docs.collect { case (id, "de") => id }.toSet
    assert(de.subsetOf(a), "strata without a threshold keep every doc")
    // named strata land near their configured rate (binomial slack)
    def rate(lang: String): Double = {
      val all = docs.collect { case (id, l) if l == lang => id }
      all.count(a).toDouble / all.size
    }
    assert(math.abs(rate("en") - 0.5) < 0.25)
    assert(math.abs(rate("fr") - 0.25) < 0.25)
    // membership is decidable from the id alone: gating a 1-row frame
    // agrees with the full-corpus run for every doc
    import org.apache.spark.sql.functions._
    val h = graft.functions.Portable.h60(col("doc_id").cast("string"), "samp|")
    val hs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), h.as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val thr = Map("en" -> (1L << 59), "zh" -> 3L * (1L << 58),
      "es" -> 5L * (1L << 57), "fr" -> (1L << 58))
    docs.foreach { case (id, lang) =>
      val keep = hs(id) < thr.getOrElse(lang, 1L << 60)
      assert(keep === a.contains(id), s"doc $id gate mismatch")
    }
  }

  test("A9: HLL estimate tracks exact cardinality; registers merge by max") {
    // a9 is sketch-only since round 8 (the exact count was the shuffle
    // the sketch avoids); the error bound checks against a recount here
    val rows = graft.operators.LlmOps.a9HllDistinct.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val exactByLang = {
      import org.apache.spark.sql.functions._
      graft.Tables.documents(spark, sf)
        .select(col("lang"), split(lower(col("text")), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("lang"), explode(expr(
          "transform(sequence(0, size(t)-3), " +
            "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("gram"))
        .groupBy("lang").agg(countDistinct(col("gram")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    rows.foreach { r =>
      val (lang, est) = (r.getString(0), r.getDouble(1))
      val exact = exactByLang(lang)
      assert(est > 0.0)
      // 3-sigma bound for m=256 (sigma = 1.04/sqrt(256) = 6.5%)
      assert(math.abs(est - exact) / exact < 0.20,
        s"lang $lang: est $est vs exact $exact")
    }
    // mergeability: the register table of the union equals the pairwise
    // max of the halves' register tables — the property that lets 1000
    // executors (or 30 daily snapshots) sketch independently
    import org.apache.spark.sql.functions._
    val grams = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(t)-3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("gram"))
    def regs(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Int] = {
      val w = 1L << 52
      df.select(col("lang"),
        graft.functions.Portable.h60(col("gram"), "hll|").as("h"))
        .select(col("lang"), expr(s"h div $w").as("idx"),
          (col("h") % w).as("rem"))
        .select(col("lang"), col("idx"),
          when(col("rem") === 0, lit(53))
            .otherwise(lit(53) - length(bin(col("rem")))).as("rho"))
        .groupBy("lang", "idx").agg(max("rho").as("m"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    }
    val all = regs(grams)
    val lo = regs(grams.filter(col("doc_id") % 2 === 0))
    val hi = regs(grams.filter(col("doc_id") % 2 === 1))
    val merged = (lo.keySet ++ hi.keySet).map(k =>
      k -> math.max(lo.getOrElse(k, 0), hi.getOrElse(k, 0))).toMap
    assert(merged === all)
  }

  test("T12: count-min never undercounts; sketches merge by cell-wise add") {
    val rows = graft.operators.LlmOps.t12CountminTopk.fn(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"token ${r.getString(0)}: estimate under exact count")
      assert(r.getLong(3) === r.getLong(2) - r.getLong(1))
    }
    // mergeability: cell counts over the full corpus = sum of the
    // halves' cells (counters are additive, unlike HLL's max-registers)
    import org.apache.spark.sql.functions._
    def cells(p: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Map[(Int, Long), Long] = {
      val toks = p(graft.Tables.documents(spark, sf))
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
      toks.select(explode(array((0 until 4).map(i =>
          struct(lit(i).as("d"),
            (graft.functions.Portable.h60(col("tok"), s"cm$i|") % 64)
              .as("b"))): _*)).as("db"))
        .groupBy(col("db.d").as("d"), col("db.b").as("b"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val full = cells(identity)
    val lo = cells(_.filter(col("doc_id") % 2 === 0))
    val hi = cells(_.filter(col("doc_id") % 2 === 1))
    val merged = (lo.keySet ++ hi.keySet).map(k =>
      k -> (lo.getOrElse(k, 0L) + hi.getOrElse(k, 0L))).toMap
    assert(merged === full)
  }

  test("T13: repetition stats equal a direct per-doc recomputation") {
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = texts.flatMap { case (id, text) =>
      // limit -1: keep trailing empty tokens, like Spark split/DuckDB
      // string_split do — Java's default drops them
      val t = text.toLowerCase.split(" ", -1)
      if (t.length < 3) None
      else {
        val grams = t.sliding(3).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size)
        Some(id -> ((grams.size.toLong, counts.size.toLong,
          counts.values.max.toLong)))
      }
    }
    val out = graft.operators.LlmOps.t13Repetition.fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet === expected.keySet)
    out.foreach { case (id, (n, dist, maxRep, ratio)) =>
      val (en, edist, emax) = expected(id)
      assert((n, dist, maxRep) === ((en, edist, emax)), s"doc $id")
      // the query rounds to 6dp — allow half an ulp at that scale
      assert(math.abs(ratio - (en - edist).toDouble / en) < 5.1e-7)
      assert(ratio >= 0.0 && ratio < 1.0)
    }
  }

  test("S10: every diff row is a well-formed upsert or tombstone") {
    val rows = graft.sources.Ingest.s10SnapshotDiff.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val types = rows.map(_.getString(2)).toSet
    assert(types.subsetOf(Set("added", "removed", "changed")))
    rows.foreach { r =>
      r.getString(2) match {
        case "added" =>
          assert(r.isNullAt(3) && !r.isNullAt(4), "added: no old state")
        case "removed" =>
          assert(!r.isNullAt(3) && r.isNullAt(4), "removed: no new state")
        case "changed" =>
          assert(!r.isNullAt(3) && !r.isNullAt(4))
          assert(r.getLong(3) != r.getLong(4) ||
            r.getDouble(5) != r.getDouble(6), "changed rows must differ")
      }
    }
  }

  test("T14: KMV sample merges by re-taking bottom-K; estimates equal an " +
    "independent recompute from the sample") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.LlmOps.t14KmvQuantile.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val base = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        graft.functions.Portable.h60(col("doc_id").cast("string"), "kmv|")
          .as("hk"))
    val all = base.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent ground truth: bottom-64 by (hash, id), then type-1
    // order statistics over (value, id) — plain Scala, no Spark windows
    val expected = all.groupBy(_._1).map { case (lang, ds) =>
      val sample = ds.sortBy(t => (t._4, t._2)).take(64)
      val sVals = sample.sortBy(t => (t._3, t._2)).map(_._3).toSeq
      val eVals = ds.sortBy(t => (t._3, t._2)).map(_._3).toSeq
      lang -> ((ds.size.toLong, sample.size.toLong,
        eVals((eVals.size + 1) / 2 - 1), sVals((sVals.size + 1) / 2 - 1),
        eVals((9 * eVals.size + 9) / 10 - 1),
        sVals((9 * sVals.size + 9) / 10 - 1)))
    }
    rows.foreach { r =>
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
      assert(got === expected(r.getString(0)), s"lang ${r.getString(0)}")
      assert(r.getLong(2) === math.min(64L, r.getLong(1)))
    }
    // mergeability: bottom-K(union) == bottom-K(bottom-K(A) ∪ bottom-K(B))
    def bottomK(p: Long => Boolean): Map[String, Seq[Long]] =
      all.filter(t => p(t._2)).groupBy(_._1).view.mapValues(
        _.sortBy(t => (t._4, t._2)).take(64).map(_._2).toSeq).toMap
    val full = bottomK(_ => true)
    val a = bottomK(_ % 2 == 0)
    val b = bottomK(_ % 2 == 1)
    val key = all.map(t => t._2 -> ((t._4, t._2))).toMap
    val merged = (a.keySet ++ b.keySet).map { l =>
      l -> (a.getOrElse(l, Nil) ++ b.getOrElse(l, Nil))
        .sortBy(key).take(64)
    }.toMap
    assert(merged === full)
  }

  test("A10: codes are bytes and reconstruction error is within a half-step") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Ann.a10ScalarQuant.fn(spark, sf).collect()
    assert(out.nonEmpty)
    // worst per-dim step: (mx - mn) / 255 over the widest dimension
    val rng = graft.Tables.embeddings(spark, sf)
      .select(posexplode(col("embedding")))
      .select(col("pos"), col("col").cast("double").as("x"))
      .groupBy("pos").agg((max("x") - min("x")).as("r"))
      .agg(max("r")).collect()(0).getDouble(0)
    val halfStep = rng / 255.0 / 2.0
    out.foreach { r =>
      assert(r.getLong(1) > 0, "vector must have dimensions")
      val maxSum = 255L * r.getLong(1)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= maxSum,
        s"vec ${r.getLong(0)}: code_sum out of byte range")
      // rmse over dims can't exceed the worst half-step (+ float slack)
      assert(r.getDouble(3) <= halfStep * 1.0001,
        s"vec ${r.getLong(0)}: rmse ${r.getDouble(3)} > half-step $halfStep")
    }
  }

  test("X11: the z-interleave is monotone in each dimension (pruning soundness)") {
    // a range pruner on either dim is only sound if the curve never
    // inverts that dim while the other is held fixed — the scalar
    // property behind x11's per-bucket bounding boxes. Checked on the
    // exact integer arithmetic the query ships (div/mod interleave),
    // replicated here in Scala over generated 16-bit coordinates.
    def z(pk: Long, sk: Long): Long =
      (0 until 16).map { i =>
        ((pk >> i) & 1L) * (1L << (2 * i)) +
          ((sk >> i) & 1L) * (1L << (2 * i + 1))
      }.sum
    val dom = Gen.chooseNum(0L, 65535L)
    val seed0 = Seed(42L)
    var seed = seed0
    (1 to 500).foreach { _ =>
      val a = dom.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val b = dom.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val c = dom.pureApply(Gen.Parameters.default, seed); seed = seed.next
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      if (lo != hi) {
        assert(z(lo, c) < z(hi, c),
          s"z must be monotone in pk: z($lo,$c) vs z($hi,$c)")
        assert(z(c, lo) < z(c, hi),
          s"z must be monotone in sk: z($c,$lo) vs z($c,$hi)")
      }
    }
    // and the interleave is a bijection on the 16-bit grid corner cases
    assert(z(0, 0) === 0L)
    assert(z(65535, 65535) === (1L << 32) - 1)
    assert(z(65535, 0) === 0x55555555L && z(0, 65535) === 0xAAAAAAAAL)
  }

  test("T8b: the PII battery scrubs every planted class, counts " +
      "per class, and replays driver-side off an independent regex " +
      "walk — pre-existing PII counted alongside the injected class") {
    import org.apache.spark.sql.functions.col
    // one doc per injection stratum (ids 0..5), a second cycle (6..11),
    // and doc 7 (stratum 1: url-injected) carrying PRE-EXISTING PII of
    // two other classes in its base text — the counts must see both
    val texts = (0L to 11L).map { id =>
      val base =
        if (id == 7L) "ping 192.168.0.1 then 8.8.8.8 card 4111222233334444"
        else s"alpha beta doc$id gamma"
      (id, base)
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-t8b").toString
    texts.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.LlmOps.t8bPiiScrub.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // independent replay: the same injection + java.util.regex
    val res = Seq("https?://[^ ]+",
      "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
      "\\b\\d{3}-\\d{3}-\\d{4}\\b",
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
      "\\b\\d{13,16}\\b").map(java.util.regex.Pattern.compile)
    texts.foreach { case (id, base) =>
      val injected = (id % 6) match {
        case 0 => s"$base contact user$id@example.com now"
        case 1 => s"$base see https://example.com/d/$id for details"
        case 2 => s"$base call 555-${id % 900 + 100}-0199 now"
        case 3 => s"$base from 10.${id % 256}.0.12 logged"
        case 4 => f"$base pay 41111111111111${id % 100}%02d ok"
        case _ => base
      }
      def nOf(p: java.util.regex.Pattern): Long = {
        val m = p.matcher(injected)
        var n = 0L; while (m.find()) n += 1; n
      }
      val scrub = res.foldLeft(injected)((t, p) =>
        p.matcher(t).replaceAll(" ")).replaceAll("\\s+", " ").trim
      assert(got(id) === ((scrub, nOf(res(0)), nOf(res(1)),
        nOf(res(2)), nOf(res(3)), nOf(res(4)))),
        s"doc $id must scrub and count exactly as the replay")
      // non-vacuity: the injected class was genuinely present & removed
      if (id % 6 != 5) assert(got(id)._2 + got(id)._3 + got(id)._4 +
        got(id)._5 + got(id)._6 > 0, s"doc $id must have planted PII")
    }
    // the multi-class doc: url (injected) + 2 IPs + 1 card pre-existing
    assert(got(7L)._2 === 1L && got(7L)._5 === 2L && got(7L)._6 === 1L)
    // every scrubbed text is PII-free under all five patterns
    got.values.foreach { case (scrub, _, _, _, _, _) =>
      res.foreach(p => assert(!p.matcher(scrub).find(),
        s"scrubbed text still matches ${p.pattern}: $scrub"))
    }
    // the clean stratum is untouched (modulo whitespace collapse)
    assert(got(5L)._1 === "alpha beta doc5 gamma")
  }
}
