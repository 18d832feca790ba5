package graft.sources

import graft.sources.mongo.{Bson, ResumeToken}
import org.scalatest.funsuite.AnyFunSuite

/** 1:1 transcription of the reference's offset-ordering unit expectations:
  * `flink-connector-mongodb-cdc/.../utils/ResumeTokenUtilsTest.java` and
  * `flink-connector-mongodb-cdc/.../utils/BsonUtilsTest.java`.
  */
class OffsetComparatorsRefSpec extends AnyFunSuite {

  // ---- ResumeTokenUtilsTest ------------------------------------------------

  // testDecodeBinDataFormat:29
  test("resume token: BinData base64 format decodes to the cluster timestamp") {
    val token = """{"_data": {"$binary": {"base64": """ +
      """"gmNXqzwAAAABRmRfaWQAZGNXqj41xq4H4ebHNwBaEATmzwG2DzpOl4tpOyYEG9zABA==", """ +
      """"subType": "00"}}}"""
    assert(ResumeToken.decodeTimestamp(token) == Bson.BTs(1666689852, 1))
  }

  // testDecodeHexFormatV0:39
  test("resume token: hex KeyString v0 decodes to the cluster timestamp") {
    val token = """ {"_data": "826357B0840000000129295A1004461ECCED47A6420D9713A513""" +
      """5650360746645F696400646357B05F35C6AE07E1E6C7390004"}"""
    assert(ResumeToken.decodeTimestamp(token) == Bson.BTs(1666691204, 1))
  }

  // testDecodeHexFormatV1:49
  test("resume token: hex KeyString v1 decodes to the cluster timestamp") {
    val token = """{"_data": "82612E8513000000012B022C0100296E5A1004A5093ABB38FE4""" +
      """B9EA67F01BB1A96D812463C5F6964003C5F5F5F78000004"}"""
    assert(ResumeToken.decodeTimestamp(token) == Bson.BTs(1630438675, 1))
  }

  test("resume token: a non-timestamp key type refuses with the key type") {
    val e = intercept[IllegalArgumentException] {
      ResumeToken.decodeTimestamp("""{"_data": "7F00000000"}""")
    }
    assert(e.getMessage == "Unknown keyType of timestamp: 127")
  }

  // ---- BsonUtilsTest.testCompareBsonValue:40 -------------------------------

  import Bson._
  private def cmp(a: Any, b: Any): Int = Bson.compareValues(a, b)

  test("bson compare: Decimal128") {
    assert(cmp(BigDecimal(18), BigDecimal(17)) > 0)
    assert(cmp(BigDecimal(17), BigDecimal(17)) == 0)
    assert(cmp(BigDecimal(16), BigDecimal(17)) < 0)
  }

  test("bson compare: String") {
    assert(cmp("apple", "banana") < 0)
    assert(cmp("banana", "banana") == 0)
    assert(cmp("cherry", "banana") > 0)
  }

  test("bson compare: arrays compare by smallest element, order-insensitive") {
    assert(cmp(Seq("fruit", "apple"), Seq("fruit", "banana")) < 0)
    assert(cmp(Seq("fruit", "banana"), Seq("fruit", "banana")) == 0)
    assert(cmp(Seq("fruit", "cherry"), Seq("fruit", "banana")) > 0)
    // only smallest value will be compared
    assert(cmp(Seq("apple", "cherry"), Seq("apple", "banana")) == 0)
    // all arrays sorted before comparison
    assert(cmp(Seq("apple", "banana"), Seq("banana", "apple")) == 0)
    // in this case, apple < banana
    assert(cmp(Seq("cherry", "apple"), Seq("cherry", "banana")) < 0)
  }

  test("bson compare: Binary by length, subtype, then unsigned bytes") {
    def bin(s: String) = BBin(0, s.getBytes("UTF-8"))
    assert(cmp(bin("apple"), bin("banana")) < 0) // shorter first
    assert(cmp(bin("banana"), bin("banana")) == 0)
    assert(cmp(bin("cherry"), bin("banana")) > 0)
  }

  test("bson compare: Boolean, DateTime, Timestamp") {
    assert(cmp(false, true) < 0)
    assert(cmp(true, true) == 0)
    assert(cmp(true, false) > 0)
    assert(cmp(BDateTime(1600000000L), BDateTime(1700000000L)) < 0)
    assert(cmp(BDateTime(1700000000L), BDateTime(1700000000L)) == 0)
    assert(cmp(BDateTime(1800000000L), BDateTime(1700000000L)) > 0)
    assert(cmp(BTs(1600000000, 0), BTs(1700000000, 0)) < 0)
    assert(cmp(BTs(1700000000, 0), BTs(1700000000, 0)) == 0)
    assert(cmp(BTs(1800000000, 0), BTs(1700000000, 0)) > 0)
  }

  test("bson compare: documents pairwise in field order") {
    assert(cmp(BDoc("fruit" -> "apple"), BDoc("fruit" -> "banana")) < 0)
    assert(cmp(BDoc("fruit" -> "banana"), BDoc("fruit" -> "banana")) == 0)
    assert(cmp(BDoc("fruit" -> "cherry"), BDoc("fruit" -> "banana")) > 0)
  }

  test("bson compare: RegEx and JavaScript-with-scope") {
    assert(cmp(BRegex("[a-xA-X]"), BRegex("[b-yB-Y]")) < 0)
    assert(cmp(BRegex("[b-yB-Y]"), BRegex("[b-yB-Y]")) == 0)
    assert(cmp(BRegex("[c-zC-Z]"), BRegex("[b-yB-Y]")) > 0)
    assert(cmp(
      BJsScope("console.log('apple');", BDoc()),
      BJsScope("console.log('banana');", BDoc())) < 0)
    assert(cmp(
      BJsScope("console.log('banana');", BDoc()),
      BJsScope("console.log('banana');", BDoc())) == 0)
    assert(cmp(
      BJsScope("console.log('cherry');", BDoc()),
      BJsScope("console.log('banana');", BDoc())) > 0)
    // same code, different scope
    assert(cmp(
      BJsScope("console.log('apple');", BDoc("_id" -> "apple")),
      BJsScope("console.log('apple');", BDoc("_id" -> "banana"))) < 0)
    assert(cmp(
      BJsScope("console.log('apple');", BDoc("_id" -> "banana")),
      BJsScope("console.log('apple');", BDoc("_id" -> "banana"))) == 0)
    assert(cmp(
      BJsScope("console.log('apple');", BDoc("_id" -> "cherry")),
      BJsScope("console.log('apple');", BDoc("_id" -> "banana"))) > 0)
  }

  // ---- MysqlGtidRecoveryTest (flink-connector-mysql-cdc) -------------------

  // testGtidGapsPreservedDuringRecovery:31 — resuming from a GTID set WITH
  // GAPS (`:1-10:14-16:19-19:21-22` against server history 1..23) must
  // replay exactly the gap transactions {11,12,13,17,18,20,23}: the replay
  // filter is set membership, never "everything after the max".
  test("gtid recovery preserves gaps: only uncovered transactions replay") {
    import graft.sources.mysql.Gtid.GtidSet
    val uuid = "24bc7850-2c16-11e6-a073-0242ac110002"
    val withGaps = GtidSet.parse(s"$uuid:1-10:14-16:19-19:21-22")
    val replayed = (1L to 23L).filterNot(withGaps.contains(uuid, _))
    assert(replayed == Seq(11L, 12L, 13L, 17L, 18L, 20L, 23L))
  }

  test("bson compare: inter-type rank and the null family") {
    assert(cmp(null, "") < 0) // Null < String
    assert(cmp(true, "") > 0) // Boolean > String
    assert(cmp(null, null) == 0)
    assert(cmp(BUndefined, BUndefined) == 0)
    assert(cmp(BUndefined, null) < 0) // Undefined < Null
  }
}
