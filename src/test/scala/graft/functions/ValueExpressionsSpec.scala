package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Golden-vector tests for the ClickHouse value expressions (§4.2) —
  * kernel-level vectors plus end-to-end SQL via the injected functions.
  */
class ValueExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def u(s: String) = UTF8String.fromString(s)

  test("IPv4 text <-> binary golden vectors") {
    val vecs = Seq(
      "0.0.0.0" -> Array[Byte](0, 0, 0, 0),
      "1.2.3.4" -> Array[Byte](1, 2, 3, 4),
      "255.255.255.255" -> Array[Byte](-1, -1, -1, -1),
      "192.168.0.1" -> Array[Byte](192.toByte, 168.toByte, 0, 1))
    vecs.foreach { case (txt, bin) =>
      assert(CHValues.ipv4ToString(bin).toString === txt)
      assert(CHValues.ipv4FromString(u(txt)).toSeq === bin.toSeq)
    }
    intercept[Exception](CHValues.ipv4FromString(u("1.2.3.256")))
    intercept[Exception](CHValues.ipv4FromString(u("1.2.3")))
    // a sign is not a digit
    intercept[IllegalArgumentException](CHValues.ipv4FromString(u("+1.2.3.4")))
  }

  test("IPv6 canonicalization follows RFC 5952") {
    // parse-format round trips onto the canonical form
    val cases = Seq(
      "2001:DB8:0:0:0:0:0:1" -> "2001:db8::1",
      "::1" -> "::1",
      "::" -> "::",
      "1::" -> "1::",
      "2001:db8:0:1:1:1:1:1" -> "2001:db8:0:1:1:1:1:1", // single zero NOT compressed
      "2001:0:0:1:0:0:0:1" -> "2001:0:0:1::1", // longest run wins
      "fe80:0:0:0:dead:beef:0:1" -> "fe80::dead:beef:0:1", // leftmost on tie... longest
      "0:0:1:0:0:0:1:0" -> "0:0:1::1:0") // rightmost run longer
    cases.foreach { case (in, canonical) =>
      assert(CHValues.ipv6ToString(CHValues.ipv6FromString(u(in))).toString === canonical,
        s"input $in")
    }
    // embedded IPv4 tail parses
    assert(CHValues.ipv6FromString(u("::ffff:1.2.3.4")).toSeq.takeRight(4)
      === Seq[Byte](1, 2, 3, 4))
    intercept[Exception](CHValues.ipv6FromString(u("1:2:3")))
    intercept[Exception](CHValues.ipv6FromString(u("1::2::3")))
    // a sign is not a hex digit; a dotted quad is only legal as the
    // final 32 bits of the address
    Seq("-1::", "1:2:3:1.2.3.4:5:6:7", "1.2.3.4::").foreach { bad =>
      intercept[IllegalArgumentException](CHValues.ipv6FromString(u(bad)))
    }
  }

  test("UUID canonical form round trips") {
    val b = CHValues.uuidFromString(u("01234567-89AB-CDEF-0123-456789abcdef"))
    assert(CHValues.uuidToString(b).toString === "01234567-89ab-cdef-0123-456789abcdef")
    assert(CHValues.uuidFromString(u("0123456789abcdef0123456789abcdef")).toSeq === b.toSeq)
    intercept[Exception](CHValues.uuidFromString(u("not-a-uuid")))
  }

  test("Int256 string round trip, range check, and order-preserving sort key") {
    val vals = Seq(
      "0", "1", "-1", "255", "-256",
      "57896044618658097711785492504343953926634992332820282019728792003956564819967", // 2^255-1
      "-57896044618658097711785492504343953926634992332820282019728792003956564819968", // -2^255
      "123456789012345678901234567890123456789012345678901234567890")
    vals.foreach { v =>
      assert(CHValues.int256ToString(CHValues.int256FromString(u(v))).toString === v)
    }
    intercept[Exception](CHValues.int256FromString(
      u("57896044618658097711785492504343953926634992332820282019728792003956564819968"))) // 2^255
    // sort-key order == numeric order
    val sorted = vals.map(v => BigInt(v)).sorted
    val keySorted = vals
      .map(v => BigInt(v) -> CHValues.int256SortKey(CHValues.int256FromString(u(v))).map(_ & 0xff).toSeq)
      .sortBy(_._2.map(i => f"$i%02x").mkString)(Ordering.String)
      .map(_._1)
    assert(keySorted === sorted)
    // compare agrees with BigInt
    for (a <- vals; b <- vals) {
      val exp = BigInt(a).compare(BigInt(b)).sign
      val got = CHValues.int256Compare(
        CHValues.int256FromString(u(a)), CHValues.int256FromString(u(b))).sign
      assert(got === exp, s"$a vs $b")
    }
  }

  test("injected SQL functions resolve and run inside codegen") {
    val df = Seq("10.0.0.1", "255.0.128.7").toDF("ip")
      .selectExpr("ipv4_string(ipv4_binary(ip)) AS rt", "ip")
    assert(df.collect().forall(r => r.getString(0) === r.getString(1)))

    val uuid = spark.sql("SELECT uuid_string(uuid_binary('01234567-89ab-cdef-0123-456789abcdef')) AS s")
    assert(uuid.head.getString(0) === "01234567-89ab-cdef-0123-456789abcdef")

    // expression is codegen-able: over a real scan (not a constant-folded
    // local relation) the projection stays in a WholeStageCodegen span
    val scanned = graft.Tables.t(spark, sf001, "nation")
      .selectExpr("uuid_string(unhex(md5(n_name))) AS u")
    assert(scanned.collect().forall(_.getString(0).length === 36))
    assert(graft.explain.Explain.codegenSpans(scanned) >= 1)
    // `*(1) Project [uuid_string(...)]` — the star marks the codegen span
    assert(scanned.queryExecution.executedPlan.toString.contains("*(1) Project"))
  }

  test("ch_fingerprint matches the HOF formula and stays in codegen") {
    // golden: "ab" -> (0*31+97)*31+98 mod p = 3105
    val v = spark.sql("SELECT ch_fingerprint('ab') AS fp").head.getLong(0)
    assert(v === 97L * 31 + 98)
    // parity with the interpreted aggregate() form it replaced
    val both = graft.Tables.t(spark, sf001, "nation")
      .selectExpr(
        "ch_fingerprint(n_name) AS fast",
        """aggregate(filter(split(n_name, ''), c -> c <> ''), CAST(0 AS BIGINT),
          |  (acc, c) -> pmod(acc * 31 + ascii(c), 1000000007)) AS slow""".stripMargin)
    assert(both.collect().forall(r => r.getLong(0) === r.getLong(1)))
    val scanned = graft.Tables.t(spark, sf001, "nation")
      .selectExpr("ch_fingerprint(n_name) AS fp")
    assert(graft.explain.Explain.codegenSpans(scanned) >= 1)
  }

  test("canon_text ≡ the two-regex canon chain, incl. Unicode, and stays in codegen") {
    // kernel-level goldens: collapse, trim, case, punct, digits, empties
    val goldens = Seq(
      "Hello, World!" -> "hello world",
      "  a   b  " -> "a b",
      "A1-b2_c3" -> "a1 b2 c3",
      "" -> "",
      "!!!" -> "",
      "   " -> "",
      "already clean" -> "already clean",
      "ABC" -> "abc",
      "x" -> "x",
      // non-ASCII: lower() maps É->é (not [a-z0-9]) -> separator; the
      // Kelvin sign U+212A lowercases to ASCII 'k' and must be KEPT
      "CafÉ bar" -> "caf bar",
      "Kelvin" -> "kelvin",
      // 1->N case mapping: İ (U+0130) lowers to i + combining dot
      "İstanbul" -> "i stanbul")
    goldens.foreach { case (in, want) =>
      assert(CHValues.canonText(u(in)).toString === want, s"input <$in>")
    }
    // parity with the exact chain it replaced, evaluated BY SPARK, over
    // fixture text plus adversarial rows (null flows through both)
    val extra = (goldens.map(_._1) :+ null).toDF("text")
    val fixture = graft.Tables.t(spark, sf001, "documents").select(col("text"))
    val both = fixture.unionByName(extra).selectExpr(
      "canon_text(text) AS fast",
      """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '),
        |' +', ' ')) AS slow""".stripMargin.replace("\n", " "))
    assert(both.collect().forall(r => r.getString(0) == r.getString(1)))
    val scanned = graft.Tables.t(spark, sf001, "documents")
      .selectExpr("canon_text(text) AS c")
    assert(graft.explain.Explain.codegenSpans(scanned) >= 1)
  }

  test("enum name <-> code via the CHType dictionary") {
    val t = graft.types.CHType.parse("Enum8('low' = 1, 'high' = 2)")
    val dict = EnumCodec.dictOf(t)
    val df = Seq("low", "high", "low").toDF("level")
      .select(EnumCodec.toCode(col("level"), dict).as("code"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1, 2, 1))
    val back = df.select(EnumCodec.toName(col("code"), dict).as("name"))
    assert(back.collect().map(_.getString(0)).toSeq === Seq("low", "high", "low"))
  }
}
