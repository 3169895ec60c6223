package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Codec gates: LEB128 boundary values roundtrip bit-exactly, corruption
  * is detected loudly (truncation AND trailing bytes), encoded length
  * equals the arithmetic ladder the oracle uses, and the contract query
  * replays a driver-side derivation on the real corpus. */
class PostingsCodecSpec extends AnyFunSuite with SharedSpark {

  private def varintLen(g: Long): Int =
    if (g < 128) 1 else if (g < 16384) 2 else if (g < 2097152) 3
    else if (g < 268435456) 4 else 5

  test("LEB128 boundaries roundtrip; length matches the ladder") {
    val boundary = Seq(0L, 1L, 127L, 128L, 16383L, 16384L,
      2097151L, 2097152L, 268435455L, 268435456L)
    // as a cumulative-gap list: ids are prefix sums so gaps are exactly these
    val ids = boundary.scanLeft(0L)(_ + _).tail
    val bytes = PostingsCodec.encode(ids)
    assert(PostingsCodec.decode(bytes, ids.length) === ids)
    assert(bytes.length === boundary.map(varintLen).sum)
  }

  test("corruption is loud: truncation and trailing bytes both throw") {
    val bytes = PostingsCodec.encode(Seq(5L, 300L, 70000L))
    intercept[IllegalArgumentException] {
      PostingsCodec.decode(bytes.dropRight(1), 3)
    }
    intercept[IllegalArgumentException] {
      PostingsCodec.decode(bytes :+ 0x01.toByte, 3)
    }
  }

  test("contract query replays a driver derivation on the real corpus") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long"), $"text").as[(Long, String)].collect()
    val postings = docs.flatMap { case (id, t) => t.split(" ").distinct.map(_ -> id) }
      .groupBy(_._1).map { case (term, v) => term -> v.map(_._2).distinct.sorted.toSeq }
    val got = PostingsCodec.postingsCodec(spark, "/root/testdata/sf0.001").collect()
    assert(got.length === postings.size)
    got.foreach { r =>
      val term = r.getString(0)
      val ids = postings(term)
      val gaps = ids.zip(0L +: ids.dropRight(1)).map { case (a, b) => a - b }
      assert(r.getLong(1) === ids.length.toLong, s"df $term")
      assert(r.getLong(3) === gaps.map(varintLen(_).toLong).sum, s"enc $term")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(ids.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(5) === md5, s"md5 $term")
    }
    // the Zipf win is real on the corpus: aggregate ratio well under 4x
    val enc = got.map(_.getLong(3)).sum.toDouble
    val raw = got.map(_.getLong(2)).sum.toDouble
    assert(enc / raw < 0.35, f"compression ${enc / raw}%.3f")
  }
}
