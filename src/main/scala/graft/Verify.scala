package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import GraftSession.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset] — the driver
    // always passes two; the third is local triage only
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // per-query wall times → <outDir>/verify_times.json (VERDICT r19
    // #8: the full gate is ~270 queries x 2 scale factors — its cost
    // must stay a managed number, so every dump records where the
    // minutes go; PLANS.md keeps the tail table)
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      times += name -> (System.nanoTime() - t0) / 1e9
      // per-query release (r9): don't let one query's persisted and
      // snapped frames occupy the block manager under the queries after
      // it, nor feed their caches
      operators.LlmOps.releaseCaches()
    }
    Files.writeString(Paths.get(s"$outDir/verify_times.json"),
      times.map { case (n, t) => f""""$n":$t%.3f""" }
        .mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the exit code stays 0: each missing output is judged on its own
    System.err.println(
      s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
  }
}
