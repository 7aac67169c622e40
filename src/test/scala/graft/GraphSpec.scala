package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** G1 PageRank: the distributed fixpoint must equal an INDEPENDENT
  * driver-side recompute of the same integer-arithmetic recurrence
  * (not a re-run of the operator's own code), and the integer
  * truncation must stay inside its provable mass-loss bound. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  /** The g1 recurrence in plain Scala collections. */
  private def referencePr(n: Long): Map[Long, Long] =
    referencePrRounds(n).last

  /** Every round r0..r[[Graph.PR_ITERS]] of [[referencePr]]. */
  private def referencePrRounds(n: Long): Seq[Map[Long, Long]] = {
    val outdeg = (0L until n).map(u => u -> u % 4).toMap
    val edges = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    }
    var pr = (0L until n).map(u => u -> Graph.PR_SCALE / n).toMap
    val rounds = Seq.newBuilder[Map[Long, Long]]
    rounds += pr
    for (_ <- 1 to Graph.PR_ITERS) {
      val recv = edges
        .groupBy(_._2)
        .map { case (v, es) =>
          v -> es.map { case (u, _) => pr(u) / outdeg(u) }.sum
        }
      val dang = (0L until n).filter(outdeg(_) == 0L).map(pr).sum
      pr = (0L until n).map { v =>
        v -> (15L * (Graph.PR_SCALE / n) / 100L +
          Graph.PR_DAMP_PCT * (recv.getOrElse(v, 0L) + dang / n) / 100L)
      }.toMap
      rounds += pr
    }
    rounds.result()
  }

  test("G1: distributed ranks equal the independent integer recurrence") {
    // a 20-node fixture: big enough for rank variation (in-degrees 0-3,
    // five dangling nodes), small enough to recompute by hand-rolled
    // Scala maps
    val n = 20L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g1fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Graph.g1Pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = referencePr(n)
    assert(got === want, "every node's rank, bit for bit")
    // ranks genuinely vary (a uniform result would hide a broken edge
    // list — each round's truncation floor makes accidental uniformity
    // implausible but CHECK, the oracle-green-but-degenerate lesson)
    assert(got.values.toSet.size >= 3, s"degenerate ranks: ${got.values}")
    // integer-truncation mass loss is bounded: each round drops < 1
    // unit per edge (contrib div), < 1 per node (dang share + teleport
    // div), < 100 units at each of the two percent-divisions per node
    val mass = got.values.sum
    val edges = (0L until n).map(_ % 4).sum
    val bound = Graph.PR_ITERS * (edges + n * 202L)
    assert(mass <= Graph.PR_SCALE && mass >= Graph.PR_SCALE - bound,
      s"mass $mass outside [${Graph.PR_SCALE - bound}, ${Graph.PR_SCALE}]")
  }

  test("G1: dangling mass is redistributed, not dropped") {
    // with redistribution, a node with NO in-links still ends above the
    // bare teleport floor (it receives dang/n each round); a build that
    // drops dangling mass pins such nodes to the floor exactly
    val n = 21L // 21's edge ring leaves nodes {0,2,3,4,10,...} unlinked
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g1dang").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Graph.g1Pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val inlinked = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u * p + k + 1) % n
      }
    }.toSet
    val orphan = (0L until n).filterNot(inlinked)
    assert(orphan.nonEmpty, "fixture must contain no-in-link nodes")
    val teleportOnly = 15L * (Graph.PR_SCALE / n) / 100L
    orphan.foreach { v =>
      assert(got(v) > teleportOnly,
        s"node $v sits at the bare teleport floor: dangling mass dropped")
    }
  }

  /** The g2 recurrence in plain Scala collections. */
  private def referenceHits(n: Long): Map[Long, (Long, Long)] = {
    val edges = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    }
    def normalize(raw: Map[Long, Long]): Map[Long, Long] = {
      val t = raw.values.sum
      (0L until n).map(v => v -> raw.getOrElse(v, 0L) * Graph.HITS_NN /
        math.max(1L, t / Graph.HITS_ND)).toMap
    }
    var h = (0L until n).map(u => u -> Graph.PR_SCALE / n).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to Graph.HITS_ITERS) {
      a = normalize(edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => h(u) }.sum })
      h = normalize(edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map { case (_, v) => a(v) }.sum })
    }
    (0L until n).map(u => u -> ((h(u), a(u)))).toMap
  }

  test("G2: distributed HITS equals the independent integer recurrence") {
    val n = 24L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g2fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Graph.g2Hits.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = referenceHits(n)
    assert(got === want, "every node's (hub, auth), bit for bit")
    // scores genuinely vary on both axes (a uniform result would hide a
    // broken join direction — the oracle-green-but-degenerate lesson)
    assert(got.values.map(_._1).toSet.size >= 3, "degenerate hubs")
    assert(got.values.map(_._2).toSet.size >= 3, "degenerate auths")
    // dangling nodes (outdeg 0) can endorse nothing: hub exactly 0;
    // nodes nothing links to carry no authority: auth exactly 0
    val inlinked = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u * p + k + 1) % n
      }
    }.toSet
    (0L until n).filter(_ % 4 == 0).foreach(u =>
      assert(got(u)._1 === 0L, s"dangling node $u must have hub 0"))
    (0L until n).filterNot(inlinked).foreach(v =>
      assert(got(v)._2 === 0L, s"unlinked node $v must have auth 0"))
  }

  test("G1b: per-round L1 delta decreases monotonically to convergence") {
    // damping 0.85 contracts the L1 error geometrically, so each
    // round's delta must be strictly below the previous until the
    // integer-truncation floor; a flat or rising step means a round
    // re-read a stale frame or dropped mass. Every step is also
    // cross-checked EXACTLY against the independent recurrence:
    // Σ|r_i − r_{i−1}| recomputed from referencePr's arithmetic.
    val n = 40L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g1conv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Graph.g1bPagerankConverge.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to Graph.PR_ITERS.toLong),
      "one delta row per round")
    val deltas = rows.map(_._2)
    val ref = referencePrRounds(n)
    val want = ref.zip(ref.tail).map { case (prev, cur) =>
      cur.keys.toSeq.map(v => math.abs(cur(v) - prev(v))).sum
    }
    assert(deltas.toSeq === want,
      "every per-round L1 step equals the independent recompute")
    deltas.zip(deltas.tail).zipWithIndex.foreach {
      case ((a, b), i) =>
        assert(b < a,
          s"round ${i + 2} delta $b did not decrease from $a " +
            s"(all: ${deltas.mkString(", ")})")
    }
    // the final delta must be deep into convergence: under 1% of total
    // mass (the observability row a driver would alarm on)
    assert(deltas.last < Graph.PR_SCALE / 100,
      s"round ${Graph.PR_ITERS} delta ${deltas.last} still coarse")
  }

  test("G2b: per-round HITS deltas equal the independent recompute " +
      "and contract overall") {
    // independent per-round recompute (the referenceHits loop, keeping
    // every round): hub deltas for rounds 1..ITERS, auth deltas from
    // round 2 (a1 has no predecessor — the query's NULL column)
    val n = 24L
    val edges = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    }
    def normalize(raw: Map[Long, Long]): Map[Long, Long] = {
      val t = raw.values.sum
      (0L until n).map(v => v -> raw.getOrElse(v, 0L) * Graph.HITS_NN /
        math.max(1L, t / Graph.HITS_ND)).toMap
    }
    var h = (0L until n).map(u => u -> Graph.PR_SCALE / n).toMap
    val hs = scala.collection.mutable.ArrayBuffer(h)
    val as = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    for (_ <- 1 to Graph.HITS_ITERS) {
      val a = normalize(edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => h(u) }.sum })
      as += a
      h = normalize(edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map { case (_, v) => a(v) }.sum })
      hs += h
    }
    def l1(x: Map[Long, Long], y: Map[Long, Long]): Long =
      (0L until n).map(u => math.abs(x(u) - y(u))).sum
    val wantHub = (1 to Graph.HITS_ITERS)
      .map(i => i.toLong -> l1(hs(i), hs(i - 1))).toMap
    val wantAuth = (2 to Graph.HITS_ITERS)
      .map(i => i.toLong -> l1(as(i - 1), as(i - 2))).toMap
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g2conv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Graph.g2bHitsConverge.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to Graph.HITS_ITERS.toLong),
      "one delta row per round")
    rows.foreach { case (i, hubL1, authL1) =>
      assert(hubL1 === wantHub(i), s"hub delta diverges at round $i")
      assert(authL1 === wantAuth.get(i),
        s"auth delta diverges at round $i (round 1 must be NULL)")
    }
    // the fixpoint contracts: final deltas well under the early ones
    // (HITS normalization makes per-step deltas near- but not provably
    // strictly-monotone — assert the honest overall property)
    assert(rows.last._2 * 2 < rows.head._2,
      s"hub deltas did not contract: ${rows.map(_._2).mkString(", ")}")
    assert(rows.last._3.get * 2 < rows(1)._3.get,
      s"auth deltas did not contract")
  }

  /** The g3 recurrence in plain Scala collections: symmetrized
    * neighbor MULTISET (multi-edges vote with multiplicity) plus a
    * self-loop per node; argmax by (count desc, label asc). */
  private def referenceLpa(n: Long): Map[Long, Long] = {
    val edges = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    }
    val nbrs = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) } ++
      (0L until n).map(v => (v, v))
    var lbl = (0L until n).map(v => v -> v).toMap
    for (_ <- 1 to Graph.LPA_ITERS) {
      lbl = nbrs
        .map { case (node, nbr) => node -> lbl(nbr) }
        .groupBy(_._1)
        .map { case (node, votes) =>
          val best = votes.groupBy(_._2).map { case (l, vs) =>
            (l, vs.size.toLong)
          }.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
          node -> best
        }
    }
    lbl
  }

  test("G3: distributed label propagation equals the independent recurrence") {
    val n = 30L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g3fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Graph.g3LabelProp.fn(spark, dir).collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = referenceLpa(n)
    assert(got === want, "every node's community label, bit for bit")
    // propagation genuinely happened (not all-distinct) AND did not
    // collapse to one label (the oracle-green-but-degenerate lesson)
    val communities = got.values.toSet
    assert(communities.size < n, "no label ever propagated")
    assert(communities.size > 1, s"collapsed to one community")
    // csize column is consistent with the assignment itself
    val sizes = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
    val wantSizes =
      got.values.groupBy(identity).map { case (l, vs) => l -> vs.size.toLong }
    assert(sizes === wantSizes, "csize must equal the community's row count")
  }

  test("G3b: per-round labels-changed counts equal the independent " +
      "recompute and expose the convergence trajectory") {
    val n = 30L
    val edges = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    }
    val nbrs = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) } ++
      (0L until n).map(v => (v, v))
    var lbl = (0L until n).map(v => v -> v).toMap
    val wantRows = (1 to Graph.LPA_ITERS).map { i =>
      val prev = lbl
      lbl = nbrs
        .map { case (node, nbr) => node -> lbl(nbr) }
        .groupBy(_._1)
        .map { case (node, votes) =>
          node -> votes.groupBy(_._2).map { case (l, vs) =>
            (l, vs.size.toLong)
          }.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      (i.toLong,
        (0L until n).count(v => lbl(v) != prev(v)).toLong,
        lbl.values.toSet.size.toLong)
    }
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g3conv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Graph.g3bLpaConverge.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.toSeq === wantRows,
      "per-round (changed, n_labels), bit for bit")
    // the trajectory genuinely converges on this fixture: propagation
    // happened (round 1 changed > 0) and settled (final round changed
    // strictly below round 1 — a 2-cycle would plateau instead, which
    // is exactly what this report exists to expose)
    assert(rows.head._2 > 0L, "no label ever changed — vacuous fixture")
    assert(rows.last._2 < rows.head._2,
      s"changed counts did not contract: ${rows.map(_._2).mkString(", ")}")
  }

  /** Graph.h60 replayed on the driver: first 15 hex of md5. */
  private def h60(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)

  /** The DENSE undirected simple edge set (u < v) g4/g5 read: sparse
    * cross-links + per-8-block 4-cliques + h60-randomized fringe. */
  private def referenceUnd(n: Long): Set[(Long, Long)] = {
    val sparse = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    }
    val dense = (0L until n).flatMap { u =>
      val b = u - u % 8
      val r = u % 8
      if (r < 4) (r + 1 to 3L).map(j => (u, (b + j) % n))
      else (0L until h60("g4f" + u) % 4).map(j => (u, (b + j) % n))
    }
    (sparse ++ dense)
      .filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }
      .toSet
  }

  /** g4's peeling in plain Scala: KCORE_ITERS rounds of the single-
    * reference recurrence a_i = {u : |N(u) ∩ a_{i-1}| ≥ K}. */
  private def referenceKcore(n: Long): Map[Long, Long] = {
    val nbrs = referenceUnd(n).toSeq
      .flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    var alive = (0L until n).toSet
    for (_ <- 1 to Graph.KCORE_ITERS)
      alive = (0L until n).filter(u =>
        nbrs.getOrElse(u, Set.empty).count(alive).toLong >=
          Graph.KCORE_K).toSet
    alive.map(u =>
      u -> nbrs.getOrElse(u, Set.empty).count(alive).toLong).toMap
  }

  test("G4: distributed k-core equals the independent peeling") {
    val n = 53L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g4fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Graph.g4Kcore.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = referenceKcore(n)
    assert(got === want, "every core member's (id, core_deg), bit for bit")
    // peeling genuinely removed something AND kept something (the
    // oracle-green-but-degenerate lesson: an all-nodes or empty result
    // would still hash-match a matching-but-broken oracle)
    assert(got.nonEmpty, "2-core empty: fixture too sparse to test")
    assert(got.size < n.toInt, "nothing peeled: fixture too dense to test")
    // every survivor meets the core order
    got.foreach { case (u, d) =>
      assert(d >= Graph.KCORE_K, s"node $u survived with degree $d")
    }
    // KCORE_ITERS rounds REACHED the fixpoint on this fixture: one
    // more peeling round removes nothing (otherwise the fixed-depth
    // unrolling is reporting a not-yet-converged set)
    val nbrs = referenceUnd(n).toSeq
      .flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val alive = got.keySet
    val oneMore = (0L until n).filter(u =>
      nbrs.getOrElse(u, Set.empty).count(alive).toLong >=
        Graph.KCORE_K).toSet
    assert(oneMore === alive, "peeling had not converged at KCORE_ITERS")
  }

  test("G4b: per-round peel counts equal the independent recompute and " +
      "the final round peels zero (fixpoint witness as output)") {
    val n = 53L
    val nbrs = referenceUnd(n).toSeq
      .flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    var alive = (0L until n).toSet
    val wantRows = (1 to Graph.KCORE_ITERS).map { i =>
      val prev = alive
      alive = (0L until n).filter(u =>
        nbrs.getOrElse(u, Set.empty).count(alive).toLong >=
          Graph.KCORE_K).toSet
      (i.toLong, alive.size.toLong, (prev.size - alive.size).toLong)
    }
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g4conv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Graph.g4bKcoreConverge.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.toSeq === wantRows,
      "per-round (alive, peeled), bit for bit")
    // non-vacuity: something peeled, something survived, and the
    // KCORE_ITERS-th round peels ZERO — the fixpoint witness that was
    // previously a spec-only assert is now the query's own last row
    assert(rows.head._3 > 0L, "nothing ever peeled — vacuous fixture")
    assert(rows.last._2 > 0L, "core emptied — vacuous fixture")
    assert(rows.last._3 === 0L,
      s"final round still peeling: ${rows.map(_._3).mkString(", ")}")
  }

  /** Triangles by brute force over all id-ordered triples. */
  private def referenceTriangles(n: Long): Map[Long, Long] = {
    val und = referenceUnd(n)
    val tri = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    val nodesWithEdges = und.flatMap(e => Seq(e._1, e._2))
    for {
      a <- nodesWithEdges; b <- nodesWithEdges if a < b
      if und((a, b))
      c <- nodesWithEdges if b < c
      if und((a, c)) && und((b, c))
    } {
      tri(a) += 1; tri(b) += 1; tri(c) += 1
    }
    val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (u, xs) => u -> xs.size.toLong }
    deg.map { case (u, _) => u -> tri(u) }
  }

  test("G6: personalized rank reaches exactly the seeds' forward " +
      "closure — zero mass outside, positive mass on reached non-seeds, " +
      "restart floor on seeds, mass conserved up to truncation") {
    // 200 nodes: seeds {0, 97, 194}; the deterministic edge rule leaves
    // a provably non-empty outside-closure set (157 nodes simulated)
    val n = 200L
    val docs = (0L until n).map(id => (id, s"doc $id", "en", "s1", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("g6fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def edgesOf(u: Long): Seq[Long] =
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u * p + k + 1) % n
      }
    val seeds = (0L until n).filter(_ % Graph.PPR_SEED_MOD == 0)
    // forward closure, driver-side BFS over the SAME edge rule
    var closure = seeds.toSet
    var frontier = seeds.toSet
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(edgesOf) -- closure
      closure ++= frontier
    }
    assert(closure.size < n,
      "fixture must leave nodes OUTSIDE the seeds' closure")
    val out = Graph.g6Ppr.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out.size === n, "one row per node")
    // no mass can reach outside the forward closure
    val outside = (0L until n).filterNot(closure)
    assert(outside.forall(out(_)._2 == 0L),
      "a node unreachable from the seeds must hold zero rank")
    // reached non-seeds genuinely earn rank (non-vacuous personalization)
    val reachedNonSeeds = closure -- seeds
    assert(reachedNonSeeds.nonEmpty &&
      reachedNonSeeds.count(out(_)._2 > 0L) > 0,
      "reachable non-seeds must earn positive rank")
    // every seed keeps at least its restart share
    val ns = seeds.size
    val floor = 15L * (Graph.PR_SCALE / ns) / 100L
    seeds.foreach(sd => assert(out(sd)._2 >= floor,
      s"seed $sd below its restart floor"))
    assert(seeds.forall(out(_)._1) && outside.forall(!out(_)._1),
      "is_seed column must mark exactly the seed slice")
    // integer truncation only sheds bounded mass
    val total = out.values.map(_._2).sum
    assert(total <= Graph.PR_SCALE && total >= Graph.PR_SCALE * 95 / 100,
      s"mass $total outside the conservation band")
  }

  test("G5: oriented wedge-closure equals brute-force triangle counts") {
    // 53: simulated 120 triangles, 4 fringe nodes peeled, converged
    val n = 53L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g5fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Graph.g5Triangles.fn(spark, dir).collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = referenceTriangles(n)
    assert(got === want, "every node's triangle count, bit for bit")
    // the fixture genuinely contains triangles (a triangle-free graph
    // would green-match a wedge join that never closes)
    assert(got.values.sum > 0L, "fixture has no triangles — vacuous test")
    // and the deg column matches the undirected degree
    val gotDeg = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantDeg = referenceUnd(n).toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (u, xs) => u -> xs.size.toLong }
    assert(gotDeg === wantDeg, "deg column must be the undirected degree")
  }

  /** The merged-graph (g7) recurrence in plain Scala from any init. */
  private def g7Rounds(n: Long, init: Map[Long, Long], iters: Int)
      : Seq[Map[Long, Long]] = {
    val outdeg = (0L until n)
      .map(u => u -> (u % 4 + (if (u % 50 == 0) 1L else 0L))).toMap
    val edges = (0L until n).flatMap { u =>
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u, (u * p + k + 1) % n)
      }
    } ++ (0L until n).filter(_ % 50 == 0).map(u => (u, (u * 37 + 3) % n))
    var pr = init
    val out = Seq.newBuilder[Map[Long, Long]]
    out += pr
    for (_ <- 1 to iters) {
      val recv = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => pr(u) / outdeg(u) }.sum
      }
      val dang = (0L until n).filter(outdeg(_) == 0L).map(pr).sum
      pr = (0L until n).map { v =>
        v -> (15L * (Graph.PR_SCALE / n) / 100L +
          Graph.PR_DAMP_PCT * (recv.getOrElse(v, 0L) + dang / n) / 100L)
      }.toMap
      out += pr
    }
    out.result()
  }

  test("G7: warm/cold reports equal the independent recompute; warm " +
    "start is provably closer every round") {
    // 20-node fixture: exactly ONE delta node (doc 0), which is also
    // DANGLING in the base graph (0 % 4 == 0) — the arrival flips it
    // to outdeg 1, exercising both stale-outdeg and stale-dangling
    // corrections in one case
    val n = 20L
    val docs = (0L until n).map(id => (id, "x", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("g7fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Graph.g7DeltaPagerank.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(2)).map(_.toString.toLong), r.getLong(3)))
      .toMap
    // independent recompute: base fixpoint feeds warm init; cold from
    // uniform; both on the merged graph
    val base = referencePr(n) // g1's base-graph fixpoint (same helper)
    val uniform = (0L until n).map(v => v -> Graph.PR_SCALE / n).toMap
    val cold = g7Rounds(n, uniform, Graph.PR_ITERS)
    val warm = g7Rounds(n, base, Graph.G7_WARM)
    val fin = cold.last
    def l1(a: Map[Long, Long], b: Map[Long, Long]): Long =
      a.map { case (v, p) => math.abs(p - b(v)) }.sum
    def check(phase: String, rounds: Seq[Map[Long, Long]]): Unit =
      rounds.zipWithIndex.foreach { case (cur, i) =>
        val (gl1, gdist) = got((phase, i.toLong))
        assert(gdist == l1(cur, fin),
          s"$phase round $i dist_to_final")
        if (i == 0) assert(gl1.isEmpty, s"$phase round 0 l1 null")
        else assert(gl1.contains(l1(cur, rounds(i - 1))),
          s"$phase round $i l1_delta")
      }
    check("cold", cold)
    check("warm", warm)
    // the incremental claim, as numbers: the warm start opens closer
    // to the fixpoint than uniform and stays at least as close at
    // every shared round index
    (0 to Graph.G7_WARM).foreach { i =>
      val w = got(("warm", i.toLong))._2
      val c = got(("cold", i.toLong))._2
      assert(w <= c, s"warm round $i ($w) must not trail cold ($c)")
    }
    // (on real-corpus sizes the margin is ~4x — sf0.01 verify reads
    // warm0 68e9 vs cold0 256e9; on this 20-node fixture the single
    // delta node is 5% of the graph and flips global dangling mass,
    // so only strict improvement is stable)
    assert(got(("warm", 0L))._2 < got(("cold", 0L))._2,
      "warm start must open closer than uniform")
    // and the delta genuinely moved the fixpoint (otherwise the test
    // is vacuous: warm0 == 0 would pass everything above)
    assert(got(("warm", 0L))._2 > 0L,
      "base fixpoint must differ from merged fixpoint — delta vacuous")
  }

  test("G8: every walk equals an independent driver-side replay of the " +
      "hash-random hop rule; dangling stops truncate, never pad") {
    val n = Tables.documents(spark, sf).count()
    def outNbrs(u: Long): Seq[Long] =
      (0L until (u % 4)).map { k =>
        val p = if (k == 0) 7L else if (k == 1) 13L else 29L
        (u * p + k + 1) % n
      }
    def h(seed: Long, walk: Long, step: Int, dst: Long): Long =
      graft.functions.Portable.h60Jvm(s"g8|$seed|$walk|$step|$dst")
    val want = (for {
      seed <- 0L until n if seed % 50 == 0
      walk <- 0L until 2L
    } yield {
      var cur = seed
      var path = List((seed, walk, 0L, seed))
      var i = 1
      var alive = true
      while (i <= 4 && alive) {
        val nb = outNbrs(cur)
        if (nb.isEmpty) alive = false
        else {
          cur = nb.minBy(d => (h(seed, walk, i, d), d))
          path ::= ((seed, walk, i.toLong, cur))
          i += 1
        }
      }
      path
    }).flatten.toSet
    val got = operators.Graph.g8RandomWalks.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want)
    // non-vacuity: the fixture must exercise BOTH walk fates — a
    // full-length walk and a dangling truncation — and the two walks
    // of some seed must diverge (the hash varies per walk)
    val lens = got.groupBy(t => (t._1, t._2)).view.mapValues(_.size)
    assert(lens.values.exists(_ >= 4),
      "no walk survived three hops — the hop rule is likely broken")
    assert(lens.values.exists(_ <= 2), "no walk hit an early dangling stop")
    val bySeed = got.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).values.toSeq)
    assert(bySeed.values.exists(ws =>
      ws.size == 2 && ws.head.map(t => (t._3, t._4)) !=
        ws.last.map(t => (t._3, t._4))),
      "some seed's two walks must take different paths")
  }

  test("G8b: skip-gram pairs equal an exact recompute from the walk " +
      "table, and the window makes them symmetric") {
    val walks = Graph.g8RandomWalks.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = walks.groupBy(t => (t._1, t._2)).values.toSeq.flatMap {
      w =>
        for {
          a <- w.toSeq; b <- w.toSeq
          if a._3 != b._3 && math.abs(a._3 - b._3) <= 2
        } yield (a._4, b._4)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.g8bWalkPairs.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    // the ±window is symmetric in (center, context) BY CONSTRUCTION —
    // an asymmetric table means the self-join dropped a direction
    got.foreach { case ((c, x), n) =>
      assert(got.get((x, c)).contains(n),
        s"pair ($c,$x) count $n has no mirror")
    }
    assert(got.values.sum > got.size.toLong,
      "repeat co-occurrences must aggregate (weights, not a pair set)")
  }
}
