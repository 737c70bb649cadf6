package graft.analyzer

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Exact text of the distributed analyzer's trees on nested and
  * over-cap fixtures: `Xml.toStringOf` and `Render.configured` of each
  * case must equal its checked-in snapshot under
  * `src/test/resources/golden/spark_analyzer/`. The cases cover the
  * length route (null, empty and all-null arrays, maps, arrays inside
  * arrays of records, over-cap lengths with and without a top-K
  * sample), timestamps, and the corrupt-JSON fallback plan.
  */
class SparkAnalyzerGoldenSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkAnalyzerGoldenSpec._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = session()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/spark_analyzer/$name")
    require(in != null, s"missing resource $name")
    try Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  cases.foreach { c =>
    test(s"${c.name}: xml and configured render match the snapshot") {
      val (xml, text) = outputs(spark, c)
      assert(xml == resource(s"${c.name}.xml"))
      assert(text == resource(s"${c.name}.txt"))
    }
  }
}

object SparkAnalyzerGoldenSpec {

  final case class Case(name: String, fixture: String,
                        distinctCap: Long, sampleTopK: Int)

  val cases: Seq[Case] = Seq(
    Case("nested_exact", "nested", 65536L, 4),
    Case("nested_cap2", "nested", 2L, 4),
    Case("lengths_cap2_top4", "lengths", 2L, 4),
    Case("lengths_cap2_top0", "lengths", 2L, 0),
    Case("json_exact", "json", 65536L, 4),
    Case("json_cap2_top4", "json", 2L, 4))

  val options: RenderOptions = RenderOptions(showCount = true,
    showLengths = true, showSamples = true, showRange = 3)

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The fixture frames, built from SQL expressions over `range`. */
  def fixture(spark: SparkSession, name: String): DataFrame = name match {
    case "nested" =>
      // xs: null every 5th row, empty every 5th, else 1-4 items;
      // zs: all null; recs: records whose `tags` field is an array
      spark.range(60).selectExpr(
        "id",
        """CASE WHEN id % 5 = 0 THEN NULL
          |     WHEN id % 5 = 1 THEN CAST(array() AS ARRAY<BIGINT>)
          |     ELSE sequence(0L, id % 4) END AS xs""".stripMargin,
        "CAST(NULL AS ARRAY<STRING>) AS zs",
        """CASE WHEN id % 4 = 0 THEN map('a', id % 10, 'b', 1L)
          |     ELSE map(concat('k', id % 3), id % 10) END AS m""".stripMargin,
        """transform(sequence(1L, id % 3 + 1), j -> named_struct(
          |  'name', concat('n', (id + j) % 4),
          |  'tags', CASE WHEN j % 2 = 0 THEN CAST(array() AS ARRAY<STRING>)
          |               ELSE array(concat('t', id % 2), 'x') END))
          |  AS recs""".stripMargin,
        "named_struct('a', id % 3, 'b', concat('s', id % 2)) AS st",
        "timestamp_seconds(1600000000 + id * 3600) AS ts")
    case "lengths" =>
      // nine array lengths, five map sizes and eleven string lengths:
      // all over a distinct cap of 2
      spark.range(80).selectExpr(
        "id",
        "sequence(0L, id % 9) AS xs",
        """map_from_arrays(transform(sequence(0L, id % 5), j -> concat('k', j)),
          |  sequence(0L, id % 5)) AS m""".stripMargin,
        "repeat('w', CAST(id % 11 + 1 AS INT)) AS word",
        """transform(sequence(1L, id % 2 + 1), j -> named_struct(
          |  'tags', transform(sequence(0L, (id + j) % 6),
          |    k -> concat('t', k)))) AS recs""".stripMargin,
        "timestamp_seconds(1600000000 + (id % 13) * 86400) AS ts")
    case "json" =>
      // every value opens a JSON object; row 7 is cut short, so the
      // parse turns up a corrupt record and the string plan is used
      spark.range(40).selectExpr(
        "id",
        """CASE WHEN id = 7 THEN '{"a": '
          |     ELSE concat('{"a": ', id, ', "b": "', repeat('x', CAST(id % 3 AS INT)),
          |                 '"}') END AS payload""".stripMargin)
  }

  def outputs(spark: SparkSession, c: Case): (String, String) = {
    val t = new SparkAnalyzer(exactDistinctCap = c.distinctCap,
      sampleTopK = c.sampleTopK).analyzeTable(fixture(spark, c.fixture))
    (Xml.toStringOf(t), Render.configured(t, options))
  }
}
