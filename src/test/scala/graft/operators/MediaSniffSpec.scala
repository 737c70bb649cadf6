package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Content-type sniff router: every real header class lands on its
  * family, garbage and empties land on unknown, NULL stays NULL.
  */
class MediaSniffSpec extends SparkSuite {
  private def sniff(hex: String): Option[(String, String)] = {
    val s = spark
    import s.implicits._
    val r = Seq(hex).toDF("h")
      .select(Multimodal.sniffMedia(unhex(col("h"))).as("sn"))
      .select(col("sn.kind"), col("sn.format")).head()
    if (r.isNullAt(0)) None else Some((r.getString(0),
      r.getString(1)))
  }

  test("each family's magic routes to its decoder") {
    assert(sniff("89504e470d0a1a0a0000000d49484452" +
      "0000014000000"+"0f008060000") == Some(("image", "png")))
    assert(sniff("474946383961" + "0c0007000000")
      == Some(("image", "gif")))
    assert(sniff("52494646" + "00000000" + "57415645" +
      "666d7420100000000100020044ac0000" +
      "10b102000400100064617461" + "88580100")
      == Some(("audio", "wav")))
    assert(sniff("4f676753" + "0002000000")
      == Some(("audio", "ogg")))
    assert(sniff("1a45dfa3" + "01000000")
      == Some(("video", "matroska")))
  }

  test("garbage, empty, and NULL payloads") {
    assert(sniff("deadbeef") == Some(("unknown", "unknown")))
    assert(sniff("") == Some(("unknown", "unknown")))
    val s = spark
    import s.implicits._
    val r = Seq(Option.empty[Array[Byte]]).toDF("p")
      .select(Multimodal.sniffMedia(col("p"))).head()
    assert(r.isNullAt(0))
  }

  test("zipf fit: planted zipf slopes down, uniform is flat") {
    val s = spark
    import s.implicits._
    // planted zipf: word i has freq 2^(14−⌊log2 i⌋) → y = 14 − x
    // exactly → slope num/den = −1 exactly
    val zipf = (1 to 1000).map(i =>
      (s"w$i", (1L << (14 - (63 - java.lang.Long
        .numberOfLeadingZeros(i.toLong))))))
    val rz = LangModel.zipfFit(zipf.toDF("w", "f")).head()
    assert(rz.getString(3) == "down")
    assert(rz.getLong(1) == -rz.getLong(2)) // slope exactly −1
    // uniform frequencies: y constant → num = 0 → flat
    val ru = LangModel.zipfFit(
      (1 to 100).map(i => (s"w$i", 8L)).toDF("w", "f")).head()
    assert(ru.getLong(1) == 0L && ru.getString(3) == "flat")
  }
}
