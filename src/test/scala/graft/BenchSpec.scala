package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The bench contract around FAILING queries and output size: a query
  * that throws is reported failed with its exception class, left out of
  * the total and listed under "failed" in bench_detail.json — never
  * recorded as a (fast) timing — and the per-query map goes out in
  * lines short enough for a tail capture to parse.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  /** Parses each string as one JSON object; fails on malformed JSON. */
  private def parse(json: Seq[String]) = {
    import spark.implicits._
    val df = spark.read.option("mode", "FAILFAST").json(json.toDS())
    df.collect()
    df
  }

  test("a throwing query is reported failed, never timed") {
    val broken = Bench.measure(spark, "/nonexistent",
      (s, _) => s.range(1).toDF()
        .filter(expr("assert_true(false, 'boom') IS NULL")))
    assert(broken.isLeft, s"a throwing query must not be timed: $broken")
    val ok = Bench.measure(spark, "/unused", (s, _) => s.range(3).toDF("v"))
    assert(ok.exists(_.reps.size >= 2), s"ok query must be timed: $ok")
    val okSec = ok.toOption.get.sec

    val (lines, detail) = Bench.report("sfX",
      Seq("qA_ok" -> ok, "qB_broken" -> broken), (1.0, 2.0))
    val errClass = broken.swap.toOption.get.getClass.getName
    assert(lines.contains(
      s"""{"query":"qB_broken","status":"failed","error":"$errClass"}"""))
    assert(lines.last ==
      f"""{"metric":"total","value":$okSec%.3f,"unit":"sec","n":1,"sf":"sfX"}""")
    val chunks = lines.filter(_.startsWith("{\"queries\""))
    assert(parse(chunks).select("queries.*").columns.toSeq == Seq("qA_ok"),
      "a failed query must not be in the per-query map")

    val d = parse(Seq(detail)).head()
    val timed = d.getAs[Row]("detail")
    assert(timed.schema.fieldNames.toSeq == Seq("qA_ok"))
    val failed = d.getAs[Row]("failed")
    assert(failed.getAs[String]("qB_broken") == errClass)
    assert(d.getAs[Row]("reps_warm_first")
      .schema.fieldNames.toSeq == Seq("qA_ok"))
  }

  test("per-query map is printed in lines of at most 2 KB") {
    val names = (1 to 400).map(i => f"q$i%03d_a_rather_long_query_name")
    val entries = names.map(n => s""""$n":1.125""")
    val lines = Bench.chunkedLines(entries)
    assert(lines.size > 1)
    assert(lines.forall(_.getBytes("UTF-8").length <= 2048))
    val cols = parse(lines).select("queries.*").columns.toSeq
    assert(cols.sorted == names)
  }
}
