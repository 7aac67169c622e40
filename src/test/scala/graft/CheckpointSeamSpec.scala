package graft

/** The reliable-checkpoint seam (VERDICT r18 #3): every iterative
  * fixpoint truncates lineage through [[Checkpoints.snap]], which is
  * `localCheckpoint()` by default and RELIABLE `df.checkpoint()` when
  * `spark.graft.checkpointDir` is set. This spec flips the conf and
  * proves (1) one fixpoint per operator family returns IDENTICAL rows
  * under both modes, and (2) the reliable mode actually wrote
  * checkpoint files into the directory — i.e. the seam engaged, the
  * results didn't come from the still-default path. */
class CheckpointSeamSpec extends SparkSuite {

  /** Queries spanning three snap-using fixpoint families: star-contract
    * CC (LlmOps.starContract), PageRank rounds (Graph.prRounds, RDD
    * rounds snapped with `Checkpoints.snap(session, rdd)`), and
    * the MMR greedy pick loop (Ann.a23 — r21b: the NSW beam descent no
    * longer checkpoints at all, its hops are single-referenced, so a23
    * is the Ann-family snap exemplar now). All run at sf0.001. */
  private val fixpoints = Seq("d8_dedup_cc_star", "g1_pagerank",
    "a23_mmr_rerank")

  private def rowsOf(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).sorted.toSeq

  test("fixpoints are identical under localCheckpoint and reliable " +
      "checkpoint, and the reliable dir actually receives files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-seam").toString
    val local = fixpoints.map(n => n -> rowsOf(n)).toMap
    operators.LlmOps.releaseCaches()
    spark.conf.set(Checkpoints.CONF_DIR, dir)
    try {
      // the seam must have ENGAGED: reliable checkpoints write rdd-*
      // dirs under <dir>/<uuid>/, wherever the context roots them (the
      // first installation wins)
      def rddDirs(): Int = walkCount(spark.sparkContext.getCheckpointDir
        .fold(dir)(_.stripPrefix("file:")))
      val reliable = fixpoints.map { n =>
        val before = rddDirs()
        val rows = rowsOf(n)
        n -> (rows, rddDirs() - before)
      }.toMap
      fixpoints.foreach { n =>
        assert(reliable(n)._1 === local(n),
          s"$n must be mode-invariant under the checkpoint seam")
        assert(local(n).nonEmpty, s"$n fixture must be non-trivial")
      }
      assert(walkCount(dir) > 0,
        "reliable mode must write checkpoint data under the conf'd dir")
      assert(reliable("g1_pagerank")._2 > 0,
        "g1's PageRank rounds must snap through the seam")
    } finally {
      spark.conf.unset(Checkpoints.CONF_DIR)
      operators.LlmOps.releaseCaches()
    }
    // and the default path is restored: no new rdd dirs appear
    val before = walkCount(dir)
    rowsOf(fixpoints.head)
    assert(walkCount(dir) === before,
      "unsetting the conf must restore localCheckpoint behavior")
  }

  private def walkCount(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten
        .flatMap(c => c +: (if (c.isDirectory) walk(c) else Nil))
    walk(new java.io.File(dir)).count(_.getName.startsWith("rdd-"))
  }

  /** The durability claim itself (VERDICT r19 #3): executor death
    * can't be staged in local mode, but its observable consequence can
    * — every in-memory block vanishing. A reliable snap must still
    * answer from its on-disk checkpoint files afterwards; a local snap
    * must NOT (its blocks WERE the data, and its lineage was truncated
    * at snap time, so there is nothing to recompute from). The pair
    * proves the conf genuinely buys fault tolerance rather than just
    * writing files nobody reads. */
  test("reliable snaps survive the loss of every in-memory block; " +
      "local snaps provably do not") {
    import Checkpoints.SnapOps
    def dropAllBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    def frame = spark.range(0, 10000)
      .selectExpr("id", "id * id AS v")
    operators.LlmOps.releaseCaches()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-durability").toString
    spark.conf.set(Checkpoints.CONF_DIR, dir)
    val want = try {
      val snapped = frame.snap()
      val before = snapped.collect().map(_.toString).sorted.toSeq
      dropAllBlocks()
      val after = snapped.collect().map(_.toString).sorted.toSeq
      assert(after === before,
        "a reliable snap must re-read from checkpoint files once its " +
          "in-memory blocks are gone")
      // the SparkContext dir is installed once per context (first
      // installation wins — the prior test's dir, if it ran first, and
      // snap logs a warning about the mismatch); assert files exist
      // wherever the context actually roots them
      val ckptRoot = spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:")
      assert(walkCount(ckptRoot) > 0,
        "the reliable snap must have files under the context's dir")
      before
    } finally spark.conf.unset(Checkpoints.CONF_DIR)
    assert(want.size === 10000)
    // negative control: the default local mode under the same loss
    val local = frame.snap()
    assert(local.collect().map(_.toString).sorted.toSeq === want,
      "local snap must compute the same rows before the block loss")
    dropAllBlocks()
    val ex = intercept[org.apache.spark.SparkException] { local.collect() }
    assert(ex.getMessage.toLowerCase.contains("checkpoint"),
      s"expected the lost-checkpoint-block failure, got: ${ex.getMessage}")
    operators.LlmOps.releaseCaches()
  }
}
