package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A suite with a SparkSession of its own, built through
  * [[LocalSession]] before the first test and stopped after the last.
  * A suite that needs another width or extra settings overrides
  * [[session]] and nothing else.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  protected var spark: SparkSession = _

  protected def session: SparkSession.Builder = LocalSession(4)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = session.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
