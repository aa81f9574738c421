package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Gate for the driver-contract wiring in [[SparkEntry]]: every entry
  * with a Spark brute-force twin (`X` or `X_indexed` next to `X_oracle`)
  * collects to the twin's rows, and every entry has a DuckDB twin. */
class SparkEntrySpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  private val sfDir = SparkFixture.Sf0001

  private val pairs: Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted.collect {
      case oracle if oracle.endsWith("_oracle") =>
        val base = oracle.stripSuffix("_oracle")
        (if (SparkEntry.queries.contains(base)) base else base + "_indexed") -> oracle
    }

  // columns sorted by name, as the DuckDB compare hashes them
  private def rows(df: DataFrame): (Seq[String], Seq[Seq[Any]]) = {
    val cols = df.columns.sorted.toSeq
    (cols, df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq)
  }

  test("contract pairs: every X / X_oracle entry collects to equal rows") {
    assert(pairs.size == 20, s"pairs: $pairs")
    for ((name, oracle) <- pairs) {
      val want = rows(SparkEntry.queries(oracle)(spark, sfDir))
      val got = rows(SparkEntry.queries(name)(spark, sfDir))
      assert(want._2.nonEmpty, s"$oracle: empty on the fixture")
      assert(got == want, s"$name != $oracle")
    }
  }

  test("contract keys: every entry has a DuckDB twin") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
