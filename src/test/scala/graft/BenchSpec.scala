package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{lit, raise_error}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The measured runner's record: the phase split covers the wall, a
  * failing query is listed and kept out of the total, the operator
  * counts are the shared tree helper's, and the JSON escaper
  * round-trips. */
class BenchSpec extends SparkSuite {
  private val json = new ObjectMapper()

  private def measure(name: String, fn: Bench.Query): Try[Bench.Record] = {
    val listener = new Bench.PhaseListener
    spark.sparkContext.addSparkListener(listener)
    try Bench.runQuery(spark, listener, name, fn, sf, 1)
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("d7: build, plan and exec cover the wall, construction runs jobs, " +
      "and the record carries every column") {
    val r = measure("d7_dedup_cc", SparkEntry.queries("d7_dedup_cc")).get
    val phases = Seq("build", "plan", "exec")
    val split = phases.map(r.median.phaseS).sum
    assert(math.abs(split - r.seconds) <= 0.05 * r.seconds,
      s"phases sum to $split s of a ${r.seconds} s wall")
    val rec = json.readTree(r.json)
    assert(rec.get("build_jobs").asLong > 0,
      "d7's label fixpoint runs jobs before its frame is returned")
    val columns = rec.fieldNames.asScala.toSet
    val expected = phases.flatMap(p => Seq(s"${p}_s", s"${p}_jobs")) ++
      Seq("wall_s", "stages", "tasks", "task_s", "gc_s", "shuffle_read_mb",
        "shuffle_write_mb", "spill_mb", "resident_rdds", "resident_mb",
        "exchanges", "joins", "aggregates", "generates", "cached_scans",
        "reused_stages", "top_stages")
    assert(expected.toSet.subsetOf(columns),
      s"missing ${expected.toSet -- columns}")
    assert(r.planText.contains("AdaptiveSparkPlan isFinalPlan=true"),
      r.planText)
  }

  test("a query that throws, in construction or in execution, is listed " +
      "as failed and kept out of the total") {
    val suite = Bench.runSuite(spark, Seq(
      "boom_build" -> ((_, _) => throw new IllegalStateException("boom")),
      "q1_flagship" -> SparkEntry.queries("q1_flagship"),
      "boom_exec" -> ((s, _) =>
        s.range(1).select(raise_error(lit("boom")).as("x")))), sf, 1)
    assert(suite.failed === Seq("boom_build", "boom_exec"))
    assert(suite.records.map(_.name) === Seq("q1_flagship"))
    assert(suite.total === suite.records.head.seconds)
  }

  test("d5: the record's operator counts are the tree helper's, one " +
      "Generate") {
    val r = measure("d5_ngram_jaccard",
      SparkEntry.queries("d5_ngram_jaccard")).get
    val qe = SparkEntry.queries("d5_ngram_jaccard")(spark, sf).queryExecution
    qe.toRdd.count()
    val fresh = Bench.nodeCounts(Bench.finalNodes(qe.executedPlan))
    assert(r.nodes === fresh)
    assert(r.nodes.toMap.apply("generates") === 1)
    val rec = json.readTree(r.json)
    r.nodes.foreach { case (k, v) => assert(rec.get(k).asInt === v, k) }
  }

  test("d5: the record counts the codegen compiles of its pass") {
    val r = measure("d5_ngram_jaccard",
      SparkEntry.queries("d5_ngram_jaccard")).get
    val compiles = json.readTree(r.json).get("compiles")
    assert(compiles != null && compiles.isIntegralNumber, r.json)
    assert(compiles.asLong >= 0L && compiles.asLong === r.median.compiles)
  }

  test("fixpoint queries leave no RDD resident after release") {
    val sc = spark.sparkContext
    Seq("g1_pagerank", "g1b_pagerank_converge", "c11_rank_curation",
        "g7_delta_pagerank", "g2b_hits_converge", "g4b_kcore_converge",
        "g3b_lpa_converge", "t20_bpe_merges", "a23_mmr_rerank")
        .foreach { name =>
      operators.LlmOps.releaseCaches()
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val r = measure(name, SparkEntry.queries(name)).get
      val left = sc.getRDDStorageInfo.map(_.id).toSet -- before
      assert(left.isEmpty && r.residentRdds <= before.size,
        s"$name left RDDs $left resident after releaseCaches()")
    }
  }

  test("d7: no pass reads an earlier pass's caches: both passes start " +
      "with nothing persisted and run the same tasks") {
    val sc = spark.sparkContext
    // on the bus queue Bench's listener drains at the end of each pass,
    // so a read after that drain has seen every task before it
    val tasks = new AtomicLong
    val counter = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    val held = mutable.ArrayBuffer.empty[Int]
    val marks = mutable.ArrayBuffer.empty[Long]
    val d7 = SparkEntry.queries("d7_dedup_cc")
    val listener = new Bench.PhaseListener
    operators.LlmOps.releaseCaches()
    sc.addSparkListener(counter)
    sc.addSparkListener(listener)
    try {
      listener.drain(sc)
      Bench.runQuery(spark, listener, "d7_dedup_cc", (s, d) => {
        held += sc.getPersistentRDDs.size
        marks += tasks.get
        d7(s, d)
      }, sf, 2).get
      marks += tasks.get
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(counter)
    }
    val perPass = marks.toSeq.zip(marks.toSeq.tail).map {
      case (a, b) => b - a }
    assert(held === Seq(0, 0), "persisted RDDs when each pass started")
    assert(perPass.head > 1 && perPass.distinct.size == 1,
      s"tasks per pass: $perPass")
  }

  test("jsonStr round-trips a quote, a backslash, a tab and \\u0001") {
    val s = "a\"b\\c\td\u0001e"
    val quoted = GraftSession.jsonStr(s)
    assert(!quoted.exists(_ < ' '), "a control char left unescaped")
    assert(json.readValue(quoted, classOf[String]) === s)
  }
}
