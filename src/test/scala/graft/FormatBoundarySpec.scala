package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compile.Formats
import graft.run.Validator
import graft.spec.SpecParser

import Harness._

/** Boundary vectors for the shared format-regex table (`Formats.regexes`).
  *
  * Motivated by mutation finding M20 (NOTES_r5.md): the table is SHARED by
  * both compilers, so the differential fuzz is structurally blind to it —
  * only directed fixtures can kill a regex mutant, and before this spec the
  * corpus pinned just one accept + one reject per format. These vectors pin
  * accept AND reject at each alternation boundary, including the
  * reference-parity quirks (month 00, hour 24, leap second 60 — the regexes
  * mirror format.cr's lexical shapes, not calendar semantics).
  */
class FormatBoundarySpec extends AnyFunSuite {

  private val hostLabel64 = "a" * 64 + ".com"
  // every label is legal (<= 63 chars), so only the 255-char total decides
  private val host255 = Seq.fill(4)("a" * 63).mkString(".")
  private val host256 = Seq("a" * 63, "a" * 63, "a" * 63, "a" * 62, "a").mkString(".")

  private val accept: Map[String, Seq[String]] = Map(
    "date" -> Seq("2023-04-05", "2023-00-15", "2023-04-31", "2023-12-31"),
    "time" -> Seq("23:59:59", "23:59:60", "24:00:00", "00:00:00"),
    "date-time" -> Seq("2023-04-05T10:20:30Z", "2023-04-05 10:20:30z",
      "2023-04-05t10:20:30.5+00:00"),
    "duration" -> Seq("P3Y6M4DT12H30M5S", "P4W", "PT1S", "P1D"),
    "email" -> Seq("a@b.co", "A.B@EXAMPLE.COM", "a+tag@sub.example.com"),
    "hostname" -> Seq("example.com", "example.com.", "localhost",
      "xn--d1acufc.xn--p1ai", host255),
    "ipv4" -> Seq("0.0.0.0", "255.255.255.255", "192.168.0.1"),
    "ipv6" -> Seq("::", "::1", "2001:db8::1", "2001:DB8::1", "0:0:0:0:0:0:0:1"),
    "uuid" -> Seq("123e4567-e89b-12d3-a456-426614174000",
      "123E4567-E89B-12D3-A456-426614174000"),
    "uri" -> Seq("https://example.com/x", "HTTPS://example.com/x", "ftp+ssh://h"),
    // space is a legal pointer character per RFC 6901 (\x20 is in \x00-\x2e)
    "json-pointer" -> Seq("", "/a/b~1c", "/~0", "/", "/a b"),
    "relative-json-pointer" -> Seq("0#", "1/a", "0", "12/a/b~0"))

  private val reject: Map[String, Seq[String]] = Map(
    "date" -> Seq("2023-13-05", "2023-04-32", "2023-4-5", "23-04-05"),
    "time" -> Seq("25:00:00", "23:60:00", "23:59:61", "9:00:00"),
    "date-time" -> Seq("2023-04-05T10:20:30", "2023-13-05T10:20:30Z",
      "2023-04-05T10:20:30+60:00"),
    "duration" -> Seq("P", "PT", "P1S", "P1W2D", "P1DT"),
    "email" -> Seq("not-an-email", "a@-b.com", "a@b..com", "@b.co", "a@"),
    "hostname" -> Seq("-bad.com", "bad-.com", "a..b", "", hostLabel64, host256),
    "ipv4" -> Seq("256.1.1.1", "01.1.1.1", "1.1.1", "1.1.1.1.1"),
    "ipv6" -> Seq("2001:::1", "1:2:3:4:5:6:7:8:9", "x::1"),
    "uuid" -> Seq("123e4567e89b12d3a456426614174000",
      "123e4567-e89b-12d3-a456-42661417400",
      "{123e4567-e89b-12d3-a456-426614174000}"),
    "uri" -> Seq("not a uri", "://x", "/a/b", "h://"),
    "json-pointer" -> Seq("bad", "/~2"),
    "relative-json-pointer" -> Seq("x/foo", "#", "-1/a"))

  test("driver-side matcher: accept/reject boundary vectors cover all 12 formats") {
    assert(accept.keySet == Formats.regexes.keySet)
    assert(reject.keySet == Formats.regexes.keySet)
    for ((f, vs) <- accept; v <- vs)
      assert(Formats.matches(f, v), s"""format "$f" should accept "$v"""")
    for ((f, vs) <- reject; v <- vs)
      assert(!Formats.matches(f, v), s"""format "$f" should reject "$v"""")
  }

  test("column path agrees with the driver-side matcher on every boundary vector") {
    // the compiled rlike check and propertyNames' driver-side matcher read
    // the same table; this pins that they decide every vector identically
    import spark.implicits._
    for (f <- Formats.regexes.keys) {
      val vs = accept(f) ++ reject(f)
      val df = vs.zipWithIndex.map { case (v, i) => (f"d$i%03d", v) }.toDF("doc_id", "v")
      val spec = SpecParser.parse(s"""{"type":"string","format":"$f"}""")
      val violating = Validator.validateColumn(df, spec, "v", "doc_id", None)
        .violations.select("doc_id").distinct().collect().map(_.getString(0)).toSet
      val expected = vs.zipWithIndex.collect {
        case (v, i) if !Formats.matches(f, v) => f"d$i%03d"
      }.toSet
      assert(violating == expected,
        s"""format "$f": column path and driver matcher disagree on ${
          (violating diff expected) ++ (expected diff violating)}""")
    }
  }

  test("column path rejects a trailing line terminator, like the driver matcher") {
    // `rlike` has find semantics, where `$` would also match before a final
    // line terminator; the \A…\z anchors make the column check reject
    // exactly what the driver-side full match rejects
    val u = "123e4567-e89b-12d3-a456-426614174000"
    for ((v, sql) <- Seq(u + "\n" -> s"'$u' || char(10)",
                         u + "\r\n" -> s"'$u' || char(13) || char(10)")) {
      assert(!Formats.matches("uuid", v))
      assert(errorsForValue("""{"type":"string","format":"uuid"}""", sql).nonEmpty,
        s"column path accepted ${v.length}-char uuid with trailing line terminator")
    }
  }
}
