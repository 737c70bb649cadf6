package graft.analyzer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.JobCounts

/** The distributed analyzer's Spark jobs, pinned per job label on one
  * small fixed fixture: scalar columns of every counter type, a
  * struct, a scalar array, a map, an array of records holding an
  * array, and one column over the distinct cap. A change that adds a
  * pass, splits a batch or moves work between passes shows up here
  * as a changed table.
  */
class AnalyzerJobCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** `word` has 20 distinct values, over the cap of 16; every other
    * column and every length is under it.
    */
  private def fixture: DataFrame = spark.range(40).selectExpr(
    "id % 7 AS n",
    "(id % 5) / 2.0D AS x",
    "concat('s', id % 3) AS s",
    "id % 2 = 0 AS b",
    "timestamp_seconds(1600000000 + (id % 4) * 60) AS ts",
    "named_struct('a', id % 3, 'c', concat('c', id % 2)) AS st",
    "sequence(0L, id % 3) AS xs",
    "map(concat('k', id % 2), id % 5) AS m",
    """transform(sequence(1L, id % 2 + 1), j -> named_struct(
      |  'name', concat('n', j),
      |  'tags', array(concat('t', (id + j) % 3)))) AS recs""".stripMargin,
    "concat('w', id % 20) AS word")

  private def analyzer =
    new SparkAnalyzer(exactDistinctCap = 16, sampleTopK = 4)

  test("analyzeTable launches the pinned jobs per label") {
    val got = JobCounts.byLabel(spark, "graft-jobs-table") {
      analyzer.analyzeTable(fixture)
    }
    assert(got == Map(
      // the record level: 10 columns (struct fields inline), 3 sizes
      "graft: witness pass at $ (8 columns)" -> 2,
      "graft: exact counter batch at $ (11 columns)" -> 2,
      "graft: summary pass at $ (1 over-cap columns)" -> 2,
      "graft: top-K sample batch at $ (1 over-cap columns)" -> 4,
      // the tagged explode of xs items and m keys/values
      "graft: witness pass at $[*] (3 columns)" -> 2,
      "graft: exact counter batch at $[*] (3 columns)" -> 2,
      // the records of recs, then their tags items
      "graft: witness pass at $.recs[] (1 columns)" -> 2,
      "graft: exact counter batch at $.recs[] (2 columns)" -> 2,
      "graft: witness pass at $.recs[][*] (1 columns)" -> 2,
      "graft: exact counter batch at $.recs[][*] (1 columns)" -> 2),
      s"\n$got")
  }

  test("analyzeIncremental launches the pinned jobs per label") {
    val df = fixture
    val prior = analyzer.analyzeTable(df.where("n < 4"))
    val got = JobCounts.byLabel(spark, "graft-jobs-incremental") {
      analyzer.analyzeIncremental(prior, df.where("n >= 4"))
    }
    assert(got == Map(
      "graft: witness pass at $ (8 columns)" -> 2,
      "graft: exact counter batch at $ (11 columns)" -> 2,
      "graft: witness pass at $[*] (3 columns)" -> 2,
      "graft: exact counter batch at $[*] (3 columns)" -> 2,
      "graft: witness pass at $.recs[] (1 columns)" -> 2,
      "graft: exact counter batch at $.recs[] (2 columns)" -> 2,
      "graft: witness pass at $.recs[][*] (1 columns)" -> 2,
      "graft: exact counter batch at $.recs[][*] (1 columns)" -> 2),
      s"\n$got")
  }

  test("an over-cap timestamp column tallies no top-K sample") {
    // `ts` has 20 distinct values, each twice, over the cap of 16: its
    // Stats are rebuilt as Instants without a sample, so pass 4 has
    // nothing to show
    val df = spark.range(40).selectExpr("id % 3 AS n",
      "timestamp_seconds(1600000000 + (id % 20) * 60) AS ts")
    val got = JobCounts.byLabel(spark, "graft-jobs-timestamp") {
      analyzer.analyzeTable(df)
    }
    assert(got == Map(
      "graft: witness pass at $ (2 columns)" -> 2,
      "graft: exact counter batch at $ (1 columns)" -> 2,
      "graft: summary pass at $ (1 over-cap columns)" -> 2), s"\n$got")
  }
}
