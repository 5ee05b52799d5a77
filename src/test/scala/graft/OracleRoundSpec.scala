package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The queries' double rounding must agree with DuckDB's `round(x, n)`,
  * which scales by 10^n, rounds half away from zero and scales back.
  */
class OracleRoundSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .appName("oracle-round-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("oracleRound rounds the q14/q20 tie value the way the oracle does") {
    import spark.implicits._
    // the sf0.001 `R` group's median: ×100 is exactly 5272424.5 in doubles
    val x = 52724.244999999995
    val got = Seq(x, -x).toDF("x")
      .select(SparkEntry.oracleRound(col("x"), 2), round(col("x"), 2))
      .as[(Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(52724.25, -52724.25))
    // Spark's own round takes the decimal expansion, which is below the tie
    assert(got.map(_._2) == Seq(52724.24, -52724.24))
  }
}
