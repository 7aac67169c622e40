package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Every oracle's text is pinned: a refactor of how oracle SQL is
  * generated (the [[Dialect]] renderers, shared CTE builders) must
  * leave each `SparkEntry.oracleSql` entry byte-identical. The fixture
  * `oracle_sql.sha256` holds one `<sha256>  <query>` line per oracle;
  * regenerate it only for an intended oracle change. */
class OracleTextSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  test("every oracle's text is byte-identical to the pinned fixture") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(h, k) = l.split("  ", 2)
      k -> h
    }.toMap finally src.close()
    val now = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    val changed = now.keySet.intersect(pinned.keySet)
      .filter(k => now(k) != pinned(k)).toSeq.sorted
    val added = (now.keySet -- pinned.keySet).toSeq.sorted
    val missing = (pinned.keySet -- now.keySet).toSeq.sorted
    assert(changed.isEmpty && added.isEmpty && missing.isEmpty,
      s"changed: ${changed.mkString(", ")}; added: ${added.mkString(", ")}" +
        s"; missing: ${missing.mkString(", ")}")
  }
}
