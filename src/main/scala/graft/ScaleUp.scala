package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data synthesizer: replicate an sf directory `factor`×
  * with FK-consistent key offsets, so the bench suite can be measured
  * at 10× its pinned scale (VERDICT r7 next-round #1 — super-linear
  * tails hide at sf0.1).
  *
  * Each copy i shifts every key column by i × (max_key + 1), so
  * orders→customer, lineitem→orders, and events→user joins keep their
  * fan-outs while distinct-key cardinalities scale with the data (a
  * naive row-duplication would instead multiply join fan-outs and
  * measure a different query). Dimension tables (region/nation/part/
  * supplier) copy unchanged — scale grows facts, not the nation count.
  * documents/embeddings replicate with shifted ids and unchanged
  * payloads: that multiplies every duplicate group and LSH bucket by
  * `factor`, which is exactly the adversarial direction the dedup
  * family's BUCKET_CAP guard is built for.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> [factor=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <dstDir> [factor]")
    val spark = GraftSession()
    run(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 10)
    spark.stop()
  }

  /** The replication itself, session-agnostic (ScaleUpSpec drives it on
    * the shared test session). */
  def run(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def keyRange(t: String, c: String): Long =
      rd(t).agg(max(col(c))).head().getLong(0) + 1
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // one offset unit per key FAMILY, shared by every table carrying it
    val ck = keyRange("customer", "c_custkey")
    val ok = keyRange("orders", "o_orderkey")
    val ek = keyRange("events", "event_id")
    val uk = keyRange("events", "user_id")
    val dk = keyRange("documents", "doc_id")
    val vk = keyRange("embeddings", "vec_id")

    def replicate(t: String, shifts: Map[String, Long]): Unit = {
      val base = rd(t)
      val copies = (0 until factor).map { i =>
        shifts.foldLeft(base) { case (df, (c, unit)) =>
          df.withColumn(c, col(c) + lit(i * unit))
        }
      }
      write(copies.reduce(_ unionByName _), t)
    }

    Seq("region", "nation", "part", "supplier")
      .foreach(t => write(rd(t), t))
    replicate("customer", Map("c_custkey" -> ck))
    replicate("orders", Map("o_orderkey" -> ok, "o_custkey" -> ck))
    replicate("lineitem", Map("l_orderkey" -> ok))
    replicate("events", Map("event_id" -> ek, "user_id" -> uk))
    replicate("documents", Map("doc_id" -> dk))
    replicate("embeddings", Map("vec_id" -> vk))
    println(s"""{"scaled":"$src","to":"$dst","factor":$factor}""")
  }
}
