package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.pipeline.KgPipeline
import graft.sources.TranscriptGen

class SqlSurfaceSpec extends AnyFunSuite {

  test("graft_dot is callable from SQL after registration") {
    val spark = SparkTestSession.get
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(got == 32.0)
  }

  test("graft_count_substr counts OVERLAPPING occurrences from SQL") {
    val spark = SparkTestSession.get
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_count_substr('aaaa', 'aa') AS overlap,
        |       graft_count_substr('abcabc', 'abc') AS plain,
        |       graft_count_substr('abc', '') AS empty,
        |       graft_count_substr(NULL, 'a') AS nul""".stripMargin).head()
    assert(r.getLong(0) == 3L, "overlapping definition: aa at 1,2,3")
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == 0L, "empty pattern counts 0, never loops")
    assert(r.isNullAt(3))
  }

  test("graft_clean and graft_fingerprint are callable from SQL and agree " +
       "with their Scala forms") {
    val spark = SparkTestSession.get
    GraftExtensions.register(spark)
    import spark.implicits._
    val raw = "say \"hi\"\ta\\'b \\xAF end"
    Seq(raw).toDF("t").createOrReplaceTempView("clean_probe")
    val got = spark.sql("SELECT graft_clean(t) AS c FROM clean_probe")
      .head().getString(0)
    assert(got == graft.text.TextNorm.parseForJson(raw))
    // fingerprint: order-insensitive — two permutations hash equal
    val fps = spark.sql(
      """SELECT graft_fingerprint('b a c') AS f1, graft_fingerprint('c b a') AS f2,
        |       graft_fingerprint('different words') AS f3""".stripMargin).head()
    assert(fps.getString(0) == fps.getString(1))
    assert(fps.getString(0) != fps.getString(2))
    // the SQL form is byte-identical to the Column form (shared constants)
    val colForm = Seq("b a c").toDF("t")
      .select(graft.text.TextNorm.fingerprintCol(org.apache.spark.sql.functions.col("t")))
      .head().getString(0)
    assert(colForm == fps.getString(0))
  }

  test("wrong arity raises WRONG_NUM_ARGS AnalysisException, never an " +
       "internal IndexOutOfBounds; extra args are rejected, not dropped") {
    val spark = SparkTestSession.get
    GraftExtensions.register(spark)
    def analysisError(sql: String): String = {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect())
      e.getMessage
    }
    assert(analysisError("SELECT graft_clean()").contains("graft_clean"))
    assert(analysisError("SELECT graft_clean('a', 'b')").contains("graft_clean"))
    assert(analysisError("SELECT graft_fingerprint('a', 5)").contains("graft_fingerprint"))
    assert(analysisError("SELECT graft_dot(array(1.0d))").contains("graft_dot"))
  }

  test("registered temp views answer plain SQL over the sf tables") {
    val spark = SparkTestSession.get
    GraftExtensions.registerTables(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 0""".stripMargin).head().getLong(0)
    assert(n > 0)
    // native function over a real table column
    val d = spark.sql(
      """SELECT graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) AS n2
        |FROM embeddings LIMIT 1""".stripMargin).head().getDouble(0)
    assert(d > 0)
  }

  test("pipeline publishes the document table when enabled") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 10, nEnt = 10, hotFactor = 2)
    val p = new KgPipeline(PipelineConfig(
      workDir = TempDirs("docs-"), publishDocs = true))
    p.runFull(spark, fx.turns.toDS(), fx.catalog, fx.markers, "r")
    val docs = p.docTable.read(spark).get
    assert(docs.count() > 0)
    val row = docs.orderBy("id").head()
    assert(row.getString(0) == s"${row.getString(1)}@${row.getString(2)}") // id = subj@lang
  }
}
