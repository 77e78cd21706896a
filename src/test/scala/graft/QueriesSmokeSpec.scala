package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/** Every registered query runs at sf0.001 and returns rows; the flagship
  * entry returns rows (the driver's t1 smoke contract). */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = T.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has a distinct name and every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  // the oracle text is pinned by hash: a refactor of the SQL fragments that
  // changes one byte of any twin fails here, not only in a full Verify run.
  // The manifest is `<sha256>  <key>` per line over the UTF-8 text, the
  // hashes of a Verify run's oracle_sql.json values.
  test("every oracle's SQL matches its pinned SHA-256") {
    val pinned = scala.io.Source.fromResource("oracle_sql.sha256").getLines()
      .map(_.split("  ")).map(a => a(1) -> a(0)).toMap
    def sha256(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val actual = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    assert(actual.keySet == pinned.keySet)
    val changed = actual.keys.filter(k => actual(k) != pinned(k)).toSeq.sorted
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.mkString(", ")}")
  }

  // fast representative subset (full inventory is covered by the driver's
  // oracle gate; streaming queries are exercised by their own machinery)
  for (name <- Seq("d01_pricing_summary", "d06_rank_windows", "d13_json",
      "d15_tumbling", "d18_word_topk", "n01_dedup_fingerprint",
      "n09_quality_score", "n12_multimodal_meta")) {
    test(s"$name returns rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, T.sf0001).count() > 0)
    }
  }
}
