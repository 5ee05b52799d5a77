package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The SQL surface: engine expressions registered via SparkSessionExtensions
  * are callable from plain spark.sql.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("extensions-spec")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("simhash64 and cosine_similarity work from SQL") {
    val r = spark.sql(
      """SELECT simhash64('the quick brown fox') AS h,
        |       cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .first()
    assert(r.getLong(0) == graft.functions.SimHash64.compute("the quick brown fox"))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("jaccard_sorted works from SQL and matches the Scala kernel") {
    val j = spark.sql(
      "SELECT jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j").first().getDouble(0)
    assert(j == graft.operators.Dedup.exactJaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)))
    assert(math.abs(j - 0.5) < 1e-15)
  }

  test("jaccard_sorted casts ARRAY<INT> to BIGINT[] and rejects a STRING at analysis") {
    val j = spark.sql("SELECT jaccard_sorted(array(1, 2, 3), array(2, 3, 4))").first().getDouble(0)
    assert(j == spark.sql(
      "SELECT jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L))").first().getDouble(0))
    assert(math.abs(j - 0.5) < 1e-15)
    // spark.sql analyzes eagerly: the type error surfaces before any job
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT jaccard_sorted('1,2,3', array(2L, 3L, 4L))"))
  }

  test("cosine_similarity casts ARRAY<INT> to FLOAT[] and rejects a STRING at analysis") {
    val c = spark.sql("SELECT cosine_similarity(array(1, 2, 3), array(2, 3, 4))").first().getDouble(0)
    assert(c == spark.sql(
      """SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT), CAST(3 AS FLOAT)),
        |                         array(CAST(2 AS FLOAT), CAST(3 AS FLOAT), CAST(4 AS FLOAT)))""".stripMargin)
      .first().getDouble(0))
    assert(math.abs(c - 20.0 / math.sqrt(14.0 * 29.0)) < 1e-12)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT cosine_similarity('1,2,3', array(CAST(1 AS FLOAT)))"))
  }

  test("parse_turn works from SQL and extracts routing fields") {
    import spark.implicits._
    Seq(("c1", 0, "assistant", null: String,
      "2015-03-23 08:09:17,637 ERROR [main] x.Y: caught IOException at /tmp/f code 7\n"))
      .toDF("conv_id", "turn_idx", "role", "tool", "text")
      .createOrReplaceTempView("turns_sql")
    val row = spark.sql(
      "SELECT p.* FROM (SELECT parse_turn(text, role, tool) AS p FROM turns_sql)").first()
    val schema = graft.functions.ParseTurnExpression.schema
    val cat = row.getString(schema.fieldIndex("category"))
    assert(cat == "errors")
    assert(row.getString(schema.fieldIndex("first_ts")) == "2015-03-23 08:09:17,637")
    assert(row.getString(schema.fieldIndex("error_signature")).startsWith("<ts> <loglevel> <thread_identifier>"))
  }

  test("SQL parse_turn honors spark.graft.schema.path (custom YAML schema)") {
    import spark.implicits._
    val yaml =
      """timestamp: []
        |delimiters: " \n"
        |variables:
        |  severity: '(OK)|(BOOM)'
        |  handle: '\[(\w)+\]'
        |routing:
        |  loglevel: severity
        |  tool_field: handle
        |""".stripMargin
    val path = java.nio.file.Files.createTempFile("graft-schema", ".yaml")
    path.toFile.deleteOnExit()
    java.nio.file.Files.writeString(path, yaml)
    Seq(("c1", 0, "tool", "bash", "[bash] ran OK\n"))
      .toDF("conv_id", "turn_idx", "role", "tool", "text")
      .createOrReplaceTempView("turns_custom")
    spark.conf.set(GraftExtensions.SchemaPathConf, path.toString)
    try {
      val row = spark.sql(
        "SELECT p.tool_invocation, p.tokens FROM (SELECT parse_turn(text, role, tool) AS p FROM turns_custom)")
        .first()
      assert(row.getString(0) == "bash")
    } finally spark.conf.unset(GraftExtensions.SchemaPathConf)
  }

  test("schema bank cache invalidates on file modification (mtime-keyed)") {
    import spark.implicits._
    def yamlWith(word: String) =
      s"""timestamp: []
         |delimiters: " \\n"
         |variables:
         |  marker: '($word)'
         |""".stripMargin
    val path = java.nio.file.Files.createTempFile("graft-schema-edit", ".yaml")
    path.toFile.deleteOnExit()
    java.nio.file.Files.writeString(path, yamlWith("alpha"))
    java.nio.file.Files.setLastModifiedTime(path,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Seq(("c1", 0, "user", null.asInstanceOf[String], "alpha beta\n"))
      .toDF("conv_id", "turn_idx", "role", "tool", "text")
      .createOrReplaceTempView("turns_edit")
    spark.conf.set(GraftExtensions.SchemaPathConf, path.toString)
    try {
      def nVars(): Long = spark.sql(
        """SELECT size(filter(p.tokens, t -> t.token_type = 1))
          |FROM (SELECT parse_turn(text, role, tool) AS p FROM turns_edit)""".stripMargin)
        .first().getInt(0).toLong
      assert(nVars() == 1L) // 'alpha' matches
      // edit the schema in place: 'beta' becomes the variable instead
      java.nio.file.Files.writeString(path, yamlWith("beta"))
      java.nio.file.Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(1000000001000L))
      assert(nVars() == 1L) // 'beta' matches under the recompiled bank
      // and the stale bank really was replaced: a word only the OLD schema
      // matched no longer tokenizes as a variable
      Seq(("c1", 0, "user", null.asInstanceOf[String], "alpha only\n"))
        .toDF("conv_id", "turn_idx", "role", "tool", "text")
        .createOrReplaceTempView("turns_edit")
      assert(nVars() == 0L)
    } finally spark.conf.unset(GraftExtensions.SchemaPathConf)
  }
}
