package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.sinks.{PgBinKind, PgBinary}

/** COPY BINARY encoders: exact wire bytes for known values (PG docs
  * "Binary Format" + the send/recv routines' layouts), the reject
  * contract (unparseable → null), and the codegen'd row renderer. */
class PgBinarySpec extends SparkSpec {

  private def enc(v: String, k: PgBinKind): Array[Byte] =
    PgBinary.encodeField(UTF8String.fromString(v), k)

  private def hex(b: Array[Byte]): String =
    if (b == null) "NULL" else b.map("%02x".format(_)).mkString

  test("header and trailer bytes") {
    assert(hex(PgBinary.Header) ==
      "5047434f50590aff0d0a00" + "00000000" + "00000000")
    assert(hex(PgBinary.Trailer) == "ffff")
    assert(hex(PgBinary.NullField) == "ffffffff")
  }

  test("integer encodings: length-prefixed big-endian, range-checked") {
    assert(hex(enc("42", PgBinKind.I4)) == "00000004" + "0000002a")
    assert(hex(enc("-1", PgBinKind.I4)) == "00000004" + "ffffffff")
    assert(hex(enc(" 7 ", PgBinKind.I2)) == "00000002" + "0007")
    assert(hex(enc("-32768", PgBinKind.I2)) == "00000002" + "8000")
    assert(enc("32768", PgBinKind.I2) == null) // int2 overflow rejects
    assert(hex(enc("-9223372036854775808", PgBinKind.I8)) ==
      "00000008" + "8000000000000000")
    assert(enc("9223372036854775808", PgBinKind.I8) == null)
    assert(enc("12.5", PgBinKind.I4) == null)
    assert(enc("", PgBinKind.I4) == null)
    assert(enc("+5", PgBinKind.I4) != null)
  }

  test("bool, float4/8: PG spellings, out-of-range rejects") {
    assert(hex(enc("t", PgBinKind.Bool)) == "00000001" + "01")
    assert(hex(enc("NO", PgBinKind.Bool)) == "00000001" + "00")
    assert(enc("maybe", PgBinKind.Bool) == null)
    assert(hex(enc("1.5", PgBinKind.F4)) == "00000004" + "3fc00000")
    assert(hex(enc("NaN", PgBinKind.F8)) == "00000008" + "7ff8000000000000")
    assert(hex(enc("-Infinity", PgBinKind.F4)) == "00000004" + "ff800000")
    assert(enc("1e39", PgBinKind.F4) == null) // float4 overflow
    assert(enc("1e-46", PgBinKind.F4) == null) // float4 underflow
    assert(enc("1e309", PgBinKind.F8) == null) // float8 overflow
    assert(enc("1.5f", PgBinKind.F8) == null) // Java suffix laxity
  }

  test("date: days since 2000-01-01, infinity sentinels") {
    assert(hex(enc("2000-01-01", PgBinKind.Date)) ==
      "00000004" + "00000000")
    assert(hex(enc("1999-12-31", PgBinKind.Date)) ==
      "00000004" + "ffffffff")
    assert(hex(enc("2000-02-01", PgBinKind.Date)) ==
      "00000004" + "0000001f")
    assert(hex(enc("infinity", PgBinKind.Date)) ==
      "00000004" + "7fffffff")
    assert(enc("2000-13-01", PgBinKind.Date) == null)
    assert(enc("2000-1-1", PgBinKind.Date) != null) // single digits OK
    // PG's calendar has no year 0: date_in rejects '0000-01-01', so
    // the encoder must too — LocalDate's proleptic year 0 would load
    // as '0001-01-01 BC', looser than the server
    assert(enc("0000-01-01", PgBinKind.Date) == null)
    assert(enc("0000-01-01 00:00:00", PgBinKind.Ts) == null)
    assert(enc("0000-01-01", PgBinKind.Ts) == null)
    assert(enc("0001-01-01", PgBinKind.Date) != null) // year 1 AD fine
  }

  test("timestamp/timestamptz: micros since 2000-01-01, zone handling") {
    assert(hex(enc("2000-01-01 00:00:00", PgBinKind.Ts)) ==
      "00000008" + "0000000000000000")
    assert(hex(enc("2000-01-01 00:00:01.5", PgBinKind.Ts)) ==
      "00000008" + "%016x".format(1500000L))
    // timestamptz applies the offset: 01:00+01 = midnight UTC
    assert(hex(enc("2000-01-01 01:00:00+01", PgBinKind.TsTz)) ==
      "00000008" + "0000000000000000")
    assert(hex(enc("2000-01-01T00:00:00Z", PgBinKind.TsTz)) ==
      "00000008" + "0000000000000000")
    // plain timestamp IGNORES a trailing offset (timestamp_in does)
    assert(hex(enc("2000-01-01 01:00:00+01", PgBinKind.Ts)) ==
      "00000008" + "%016x".format(3600000000L))
    assert(enc("2000-01-01 25:00:00", PgBinKind.Ts) == null)
    assert(enc("not a ts", PgBinKind.Ts) == null)
    // date-only input = midnight, as timestamp_in accepts
    assert(hex(enc("2000-01-02", PgBinKind.Ts)) ==
      "00000008" + "%016x".format(86400000000L))
  }

  test("time: micros since midnight, 24:00 endpoint") {
    assert(hex(enc("00:00:01", PgBinKind.Time)) ==
      "00000008" + "%016x".format(1000000L))
    assert(enc("24:00:00", PgBinKind.Time) != null)
    assert(enc("24:00:01", PgBinKind.Time) == null)
  }

  test("numeric: base-10000 groups, weight, dscale, specials") {
    // 12345.678 → groups [1,2345,6780], weight 1, dscale 3
    assert(hex(enc("12345.678", PgBinKind.Num)) ==
      "0000000e" + "0003" + "0001" + "0000" + "0003" +
        "0001" + "0929" + "1a7c")
    // 0.00: zero digits, dscale 2
    assert(hex(enc("0.00", PgBinKind.Num)) ==
      "00000008" + "0000" + "0000" + "0000" + "0002")
    // -0.0001 → one group [1], weight -1, sign neg, dscale 4
    assert(hex(enc("-0.0001", PgBinKind.Num)) ==
      "0000000a" + "0001" + "ffff" + "4000" + "0004" + "0001")
    // 1e5 (scientific in, dscale 0) = 100000 → [10], weight 1
    assert(hex(enc("1e5", PgBinKind.Num)) ==
      "0000000a" + "0001" + "0001" + "0000" + "0000" + "000a")
    assert(hex(enc("NaN", PgBinKind.Num)) ==
      "00000008" + "0000" + "0000" + "c000" + "0000")
    assert(hex(enc("-Infinity", PgBinKind.Num)) ==
      "00000008" + "0000" + "0000" + "f000" + "0000")
    assert(enc("12,5", PgBinKind.Num) == null)
  }

  test("uuid and text") {
    assert(hex(enc("00010203-0405-0607-0809-0a0b0c0d0e0f",
      PgBinKind.Uuid)) ==
      "00000010" + "000102030405060708090a0b0c0d0e0f")
    assert(enc("not-a-uuid", PgBinKind.Uuid) == null)
    // text: raw UTF-8 bytes, NO escaping — a tab stays one byte
    assert(hex(enc("a\tb", PgBinKind.Text)) == "00000003" + "610962")
    assert(hex(enc("é", PgBinKind.Text)) == "00000002" + "c3a9")
  }

  test("bytea: hex and legacy escape forms mirror byteain exactly") {
    // hex form: raw bytes, lowercase/uppercase digits, whitespace
    // between PAIRS allowed (hex_decode), odd digits reject
    assert(hex(enc("\\xDEADbeef", PgBinKind.Bytea)) ==
      "00000004" + "deadbeef")
    assert(hex(enc("\\x", PgBinKind.Bytea)) == "00000000")
    assert(hex(enc("\\xde ad\tbe\nef", PgBinKind.Bytea)) ==
      "00000004" + "deadbeef")
    assert(enc("\\xdea", PgBinKind.Bytea) == null) // odd digit count
    assert(enc("\\xzz", PgBinKind.Bytea) == null)
    // whitespace INSIDE a pair is a server error (hex_decode takes the
    // second digit immediately)
    assert(enc("\\xd e", PgBinKind.Bytea) == null)
    // byteain checks a lowercase x and trims nothing: '\X…' and
    // ' \x…' both fall to the escape form (and reject on the lone \)
    assert(enc("\\Xdead", PgBinKind.Bytea) == null)
    assert(enc(" \\xdead", PgBinKind.Bytea) == null)
    // escape form: literal bytes, \\ and exactly-3-octal-digit escapes
    assert(hex(enc("abc", PgBinKind.Bytea)) == "00000003" + "616263")
    assert(hex(enc("a\\\\b", PgBinKind.Bytea)) == "00000003" + "615c62")
    assert(hex(enc("\\101\\000\\377", PgBinKind.Bytea)) ==
      "00000003" + "4100ff")
    assert(enc("\\477", PgBinKind.Bytea) == null) // first digit > 3
    assert(enc("\\41", PgBinKind.Bytea) == null) // two digits only
    assert(enc("a\\", PgBinKind.Bytea) == null) // trailing lone \
    assert(enc("\\9", PgBinKind.Bytea) == null)
    // non-ASCII UTF-8 bytes pass through literally
    assert(hex(enc("é", PgBinKind.Bytea)) == "00000002" + "c3a9")
  }

  test("jsonb: version byte 1 then the raw json text; decode strips it") {
    assert(hex(enc("""{"a":1}""", PgBinKind.Jsonb)) ==
      "00000008" + "01" + "7b2261223a317d")
    assert(hex(enc("", PgBinKind.Jsonb)) == "00000001" + "01")
    val f = Array[Byte](0, 1) ++ enc("""{"a":\t1}""", PgBinKind.Jsonb)
    assert(new String(PgBinary.frameToTextLine(f,
      Seq(PgBinKind.Jsonb)), "UTF-8") == "{\"a\":\\\\t1}\n")
  }

  test("interval: micros/days/months split preserved, ISO and " +
    "postgres styles, fraction-cascade rejects") {
    val k = PgBinKind.Ival
    def iv(us: Long, d: Int, m: Int): String =
      "00000010" + "%016x".format(us) + "%08x".format(d) + "%08x".format(m)
    // ISO and the equivalent postgres output style land identical
    assert(hex(enc("P1Y2M3DT4H5M6.5S", k)) ==
      iv((4L * 3600 + 5 * 60 + 6) * 1000000L + 500000L, 3, 14))
    assert(hex(enc("1 year 2 mons 3 days 04:05:06.5", k)) ==
      hex(enc("P1Y2M3DT4H5M6.5S", k)))
    // mixed signs: components stay SEPARATE (never normalized)
    assert(hex(enc("-1 days +02:03:00", k)) == iv(7380000000L, -1, 0))
    assert(hex(enc("P-1M-2DT-3.5S", k)) == iv(-3500000L, -2, -1))
    // verbose 'ago' negates everything; weeks scale to days
    assert(hex(enc("3 weeks ago", k)) == iv(0L, -21, 0))
    assert(hex(enc("00:00:00", k)) == iv(0L, 0, 0))
    assert(hex(enc("90 min", k)) == iv(5400000000L, 0, 0))
    assert(hex(enc("5 us", k)) == iv(5L, 0, 0))
    assert(hex(enc("250 ms", k)) == iv(250000L, 0, 0))
    assert(hex(enc("04:05", k)) == iv(4L * 3600000000L + 300000000L, 0, 0))
    // field-conflict parity with DecodeInterval's tmask (all verified
    // against interval_in live): repeats, two clocks, unit-vs-clock
    // overlap, and fractional-seconds claiming sec|ms|us all reject;
    // non-overlapping combinations load
    assert(enc("1 day 1 day", k) == null)
    assert(enc("1:00 2:00", k) == null)
    assert(enc("3 hours 1:00", k) == null)
    assert(enc("04:05 1 sec", k) == null) // a clock claims ALL seconds
    assert(enc("04:05:06 1 ms", k) == null)
    assert(enc("1.5 sec 1 ms", k) == null)
    assert(hex(enc("1 sec 1 ms", k)) == iv(1001000L, 0, 0))
    assert(hex(enc("1.5 sec 1 min", k)) == iv(61500000L, 0, 0))
    assert(hex(enc("1 mon 1 week", k)) == iv(0L, 7, 1))
    // rejects: cascading fractions, sub-micro rounding, bare numbers,
    // unknown units, empty/garbage, 7-digit fractions
    assert(enc("1.5 days", k) == null)
    assert(enc("1.5 ms", k) == null)
    assert(enc("1", k) == null)
    assert(enc("2 fortnights", k) == null)
    assert(enc("P", k) == null)
    assert(enc("PT", k) == null)
    assert(enc("PT0.1234567S", k) == null)
    assert(enc("", k) == null)
  }

  test("interval: frameToTextLine renders the replayable signed-ISO " +
    "form") {
    val k = PgBinKind.Ival
    val f1 = Array[Byte](0, 1) ++ enc("P14M3DT4.25S", k)
    assert(new String(PgBinary.frameToTextLine(f1, Seq(k)), "UTF-8") ==
      "P14M3DT4.25S\n")
    val f2 = Array[Byte](0, 1) ++ enc("-1 days +02:03:00", k)
    assert(new String(PgBinary.frameToTextLine(f2, Seq(k)), "UTF-8") ==
      "P0M-1DT7380S\n")
    val f3 = Array[Byte](0, 1) ++ enc("P-1M-2DT-3.5S", k)
    assert(new String(PgBinary.frameToTextLine(f3, Seq(k)), "UTF-8") ==
      "P-1M-2DT-3.5S\n")
    val f4 = Array[Byte](0, 1) ++ enc("00:00:00", k)
    assert(new String(PgBinary.frameToTextLine(f4, Seq(k)), "UTF-8") ==
      "P0M0DT0S\n")
  }

  test("array: 1-D array_recv wire form, array_in 1-D text grammar") {
    val ints = PgBinKind.Arr(PgBinKind.I4, 23)
    val texts = PgBinKind.Arr(PgBinKind.Text, 25)
    // {1,NULL,3}: ndim 1, has-null, elemoid 23, dim (3,1), elements
    assert(hex(enc("{1,NULL,3}", ints)) ==
      "00000028" + "00000001" + "00000001" + "00000017" +
        "00000003" + "00000001" +
        "00000004" + "00000001" + "ffffffff" + "00000004" + "00000003")
    // empty array: ndim 0, no dims (array_send's own spelling)
    assert(hex(enc("{}", ints)) ==
      "0000000c" + "00000000" + "00000000" + "00000017")
    assert(hex(enc(" { 1 , 2 } ", ints)) == // ws around elements/braces
      hex(enc("{1,2}", ints)))
    // array_in skips ALL ASCII whitespace between tokens (\n \r \v
    // \f), not just space/tab — '{1,\n2}' is server-valid
    assert(hex(enc("{1,\n2}", ints)) == hex(enc("{1,2}", ints)))
    assert(hex(enc("{\r1,\u000B2\f}\n", ints)) == // \u000B = \v
      hex(enc("{1,2}", ints)))
    // quoted elements: separators/braces/escapes inside; unquoted
    // lowercase null is NULL, quoted "NULL" is the string
    assert(hex(enc("""{"a,b",null,"c\"d","NULL"}""", texts)) ==
      "0000002e" + "00000001" + "00000001" + "00000019" +
        "00000004" + "00000001" +
        "00000003" + "612c62" + "ffffffff" +
        "00000003" + "632264" + "00000004" + "4e554c4c")
    // element failures reject the row (strict element grammar)
    assert(enc("{1,x}", ints) == null)
    // malformed shapes reject: trailing garbage,
    // empty unquoted element, unterminated quote, mid-element quote
    // or brace (array_in: Unexpected '{' character)
    assert(enc("{1,2}x", ints) == null)
    assert(enc("{1,,2}", ints) == null)
    assert(enc("""{"a}""", texts) == null)
    assert(enc("""{a"b}""", texts) == null)
    assert(enc("{a{b}", texts) == null)
    assert(enc("1,2", ints) == null)
    // an ESCAPED null token is the literal string (array_in keeps
    // '\NULL' as 'NULL'), never SQL NULL
    assert(hex(enc("""{\NULL}""", texts)) ==
      "0000001c" + "00000001" + "00000000" + "00000019" +
        "00000001" + "00000001" + "00000004" + "4e554c4c")
    // ESCAPED trailing whitespace survives the trim (array_in keeps
    // '{a\ }' as the 2-char element "a ", dstendptr semantics);
    // unescaped whitespace AFTER the escaped char still trims
    assert(hex(enc("{a\\ }", texts)) ==
      "0000001a" + "00000001" + "00000000" + "00000019" +
        "00000001" + "00000001" + "00000002" + "6120")
    assert(hex(enc("{a\\  }", texts)) == hex(enc("{a\\ }", texts)))
    // an all-escaped-whitespace element is valid ('{\ }' = " ")
    assert(hex(enc("{\\ }", texts)) ==
      "00000019" + "00000001" + "00000000" + "00000019" +
        "00000001" + "00000001" + "00000001" + "20")
  }

  test("array: multi-dimensional array_recv wire form, array_in " +
    "dimensionality rules (live-pinned)") {
    val ints = PgBinKind.Arr(PgBinKind.I4, 23)
    // {{1,2},{3,4}}: ndim 2, dims (2,1)(2,1), row-major elements
    assert(hex(enc("{{1,2},{3,4}}", ints)) ==
      "0000003c" + "00000002" + "00000000" + "00000017" +
        "00000002" + "00000001" + "00000002" + "00000001" +
        "00000004" + "00000001" + "00000004" + "00000002" +
        "00000004" + "00000003" + "00000004" + "00000004")
    // 2×1, whitespace between sub-arrays, NULL leaf
    assert(hex(enc(" { {1} , {NULL} } ", ints)) ==
      "00000028" + "00000002" + "00000001" + "00000017" +
        "00000002" + "00000001" + "00000001" + "00000001" +
        "00000004" + "00000001" + "ffffffff")
    // 3-dim
    assert(hex(enc("{{{1,2}},{{3,4}}}", ints)).startsWith(
      "00000044" + "00000003" + "00000000" + "00000017" +
        "00000002" + "00000001" + "00000001" + "00000001" +
        "00000002" + "00000001"))
    // array_in's own rejects, each probed live: ragged dims, mixed
    // scalar/array at one level (either order), ragged depth, empty
    // sub-arrays anywhere, >6 dims
    assert(enc("{{1},{2,3}}", ints) == null)
    assert(enc("{{1,2},{3}}", ints) == null)
    assert(enc("{1,{2}}", ints) == null)
    assert(enc("{{1},2}", ints) == null)
    assert(enc("{{{1}},{{2},{3}}}", ints) == null)
    assert(enc("{{}}", ints) == null)
    assert(enc("{{1},{}}", ints) == null)
    assert(enc("{{},{}}", ints) == null)
    assert(enc("{{{{{{{1}}}}}}}", ints) == null)
    // reject frames render replayable nested literals
    val f = Array[Byte](0, 1) ++ enc("{{1,2},{3,4}}", ints)
    assert(new String(PgBinary.frameToTextLine(f, Seq(ints)), "UTF-8")
      == "{{\"1\",\"2\"},{\"3\",\"4\"}}\n")
  }

  test("array: [lo:hi]= dimension specs ride the wire form's per-dim " +
    "lower bound (array_in's PG-15 dim grammar)") {
    val ints = PgBinKind.Arr(PgBinKind.I4, 23)
    // [0:2]={1,2,3}: lbs land in the lb slot; contents unchanged
    assert(hex(enc("[0:2]={1,2,3}", ints)) ==
      "0000002c" + "00000001" + "00000000" + "00000017" +
        "00000003" + "00000000" +
        "00000004" + "00000001" + "00000004" + "00000002" +
        "00000004" + "00000003")
    // negative lower bound
    assert(hex(enc("[-2:-1]={7,8}", ints)) ==
      "00000024" + "00000001" + "00000000" + "00000017" +
        "00000002" + "fffffffe" +
        "00000004" + "00000007" + "00000004" + "00000008")
    // [n] means [1:n] (array_in's single-number form)
    assert(hex(enc("[3]={1,2,3}", ints)) == hex(enc("{1,2,3}", ints)))
    // multi-dim: one item per dim, row-major lbs in order
    assert(hex(enc("[0:1][5:6]={{1,2},{3,4}}", ints)) ==
      "0000003c" + "00000002" + "00000000" + "00000017" +
        "00000002" + "00000000" + "00000002" + "00000005" +
        "00000004" + "00000001" + "00000004" + "00000002" +
        "00000004" + "00000003" + "00000004" + "00000004")
    // whitespace BETWEEN dimension items and around '=' is legal;
    // whitespace WITHIN an item is not (array_in's exact rule)
    assert(hex(enc(" [0:1] [5:6] = {{1,2},{3,4}}", ints)) ==
      hex(enc("[0:1][5:6]={{1,2},{3,4}}", ints)))
    assert(enc("[ 0:1]={1,2}", ints) == null)
    assert(enc("[0 :1]={1,2}", ints) == null)
    // atoi token semantics: '1-1' parses as 1, '+2' as 2, '+-3' as 0
    assert(hex(enc("[1-1:3]={1,2,3}", ints)) ==
      hex(enc("{1,2,3}", ints)))
    assert(hex(enc("[+0:+2]={1,2,3}", ints)) ==
      hex(enc("[0:2]={1,2,3}", ints)))
    assert(hex(enc("[+-3:0]={1}", ints)) ==
      hex(enc("[0:0]={1}", ints)))
    // rejects: ub < lb, dim-count mismatch, extent mismatch, missing
    // '=', missing ']', empty token, spec with '{}', >6 items
    assert(enc("[2:1]={1,2}", ints) == null)
    assert(enc("[1:2][1:1]={1,2}", ints) == null)
    assert(enc("[1:3]={1,2}", ints) == null)
    assert(enc("[1:2]{1,2}", ints) == null)
    assert(enc("[1:2={1,2}", ints) == null)
    assert(enc("[]={1,2}", ints) == null)
    assert(enc("[:2]={1,2}", ints) == null)
    assert(enc("[1:2]={}", ints) == null)
    assert(enc("[1:1][1:1][1:1][1:1][1:1][1:1][1:1]={1}", ints) == null)
    // reject frames spell non-1 lbs back as the [lo:hi]= prefix —
    // replayable through array_in AND this encoder
    val f = Array[Byte](0, 1) ++ enc("[0:1][5:6]={{1,2},{3,4}}", ints)
    val line = new String(PgBinary.frameToTextLine(f, Seq(ints)), "UTF-8")
    assert(line == "[0:1][5:6]={{\"1\",\"2\"},{\"3\",\"4\"}}\n")
    assert(hex(enc(line.trim, ints)) ==
      hex(enc("[0:1][5:6]={{1,2},{3,4}}", ints)))
    // all-default lbs render WITHOUT the prefix (array_out's rule)
    val f1 = Array[Byte](0, 1) ++ enc("[1:2]={1,2}", ints)
    assert(new String(PgBinary.frameToTextLine(f1, Seq(ints)), "UTF-8")
      == "{\"1\",\"2\"}\n")
  }

  test("range: range_recv wire form from the range_in text grammar " +
    "(live-pinned against PostgreSQL 15)") {
    val i4r = PgBinKind.Rng(PgBinKind.I4, "int4range")
    val numr = PgBinKind.Rng(PgBinKind.Num, "numrange")
    val dater = PgBinKind.Rng(PgBinKind.Date, "daterange")
    // [1,3): flags LB_INC(0x02), two length-prefixed int4 bounds
    assert(hex(enc("[1,3)", i4r)) ==
      "00000011" + "02" + "00000004" + "00000001" +
        "00000004" + "00000003")
    // [1,3]: ships inclusive flags verbatim — the server canonicalizes
    // on receive (range_serialize), landing as [1,4)
    assert(hex(enc("[1,3]", i4r)) ==
      "00000011" + "06" + "00000004" + "00000001" +
        "00000004" + "00000003")
    // empty: single flags byte, case-insensitive, whitespace-tolerant
    assert(hex(enc("empty", i4r)) == "00000001" + "01")
    assert(hex(enc("  EMPTY ", i4r)) == "00000001" + "01")
    // both-infinite: LB_INF|UB_INF
    assert(hex(enc("(,)", i4r)) == "00000001" + "18")
    // an inclusivity flag on an infinite bound drops silently, like
    // range_in ('[,5]' → lower-inf + upper-inc = 0x0c, NOT 0x0e)
    assert(hex(enc("[,5]", i4r)) ==
      "00000009" + "0c" + "00000004" + "00000005")
    assert(hex(enc("[5,]", i4r)) ==
      "00000009" + "12" + "00000004" + "00000005")
    // whitespace around the literal; quoted bounds feed the subtype
    // encoder the UNQUOTED text
    assert(hex(enc(" [1,2) ", i4r)) == hex(enc("[1,2)", i4r)))
    assert(hex(enc("[\"1.50\",2)", numr)) == hex(enc("[1.50,2)", numr)))
    // an explicit '-infinity' bound is PRESENT (date sentinel datum),
    // not RANGE_LB_INF — range_in parses it through date_in the same
    assert(hex(enc("[-infinity,2024-01-01)", dater)) ==
      "00000011" + "02" + "00000004" + "80000000" +
        "00000004" + "0000223e")
    // malformed shapes and bound-parse failures reject the row
    assert(enc("[1,2", i4r) == null) // unterminated
    assert(enc("1,2)", i4r) == null) // missing open
    assert(enc("[1;2)", i4r) == null) // bad separator
    assert(enc("[1,2) x", i4r) == null) // trailing garbage
    assert(enc("[a,2)", i4r) == null) // subtype parse failure
    assert(enc("[\"1,2)", i4r) == null) // unterminated quote
    assert(enc("emptyx", i4r) == null)
    // range frames in reject files decode to replayable always-quoted
    // literals
    val f1 = Array[Byte](0, 1) ++ enc("[1,3)", i4r)
    assert(new String(PgBinary.frameToTextLine(f1, Seq(i4r)), "UTF-8")
      == "[\"1\",\"3\")\n")
    val f2 = Array[Byte](0, 1) ++ enc("empty", i4r)
    assert(new String(PgBinary.frameToTextLine(f2, Seq(i4r)), "UTF-8")
      == "empty\n")
    val f3 = Array[Byte](0, 1) ++ enc("(,5]", i4r)
    assert(new String(PgBinary.frameToTextLine(f3, Seq(i4r)), "UTF-8")
      == "(,\"5\"]\n")
  }

  test("composite: record_recv wire form from the record_in text " +
    "grammar (live-pinned against PostgreSQL 15)") {
    val c = PgBinKind.Comp(
      Seq((PgBinKind.I4, 23), (PgBinKind.Text, 25)), "pt")
    // (1,hi): nfields, then per field oid + length-prefixed datum
    assert(hex(enc("(1,hi)", c)) ==
      "0000001a" + "00000002" +
        "00000017" + "00000004" + "00000001" +
        "00000019" + "00000002" + "6869")
    // a zero-char unquoted field is SQL NULL; a quoted "" is the
    // empty string — live-probed record_in semantics
    assert(hex(enc("(1,)", c)) ==
      "00000018" + "00000002" +
        "00000017" + "00000004" + "00000001" +
        "00000019" + "ffffffff")
    assert(hex(enc("(1,\"\")", c)) ==
      "00000018" + "00000002" +
        "00000017" + "00000004" + "00000001" +
        "00000019" + "00000000")
    // unquoted whitespace is PRESERVED in the field text (the
    // subtype's input routine trims where it trims: int4in does,
    // text does not)
    assert(hex(enc("( 1 , x )", c)) ==
      "0000001b" + "00000002" +
        "00000017" + "00000004" + "00000001" +
        "00000019" + "00000003" + "207820")
    // quotes toggle mid-field; "" inside quotes is a literal quote
    assert(hex(enc("(1,a\"\"b)", c)) == hex(enc("(1,ab)", c)))
    assert(hex(enc("(1,\"a\"\"b\")", c)) ==
      "0000001b" + "00000002" +
        "00000017" + "00000004" + "00000001" +
        "00000019" + "00000003" + "612262")
    // escaped separator; whitespace around the literal
    assert(hex(enc("(1,a\\,b)", c)) ==
      "0000001b" + "00000002" +
        "00000017" + "00000004" + "00000001" +
        "00000019" + "00000003" + "612c62")
    assert(hex(enc(" (1,x) ", c)) == hex(enc("(1,x)", c)))
    // field count must match exactly (record_in: malformed)
    assert(enc("(1)", c) == null)
    assert(enc("(1,x,2)", c) == null)
    assert(enc("()", c) == null) // one NULL field ≠ two fields
    assert(enc("(1,x", c) == null) // unterminated
    assert(enc("(a,x)", c) == null) // field parse failure
    assert(enc("(1,\"x)", c) == null) // unterminated quote
    // reject frames decode to replayable record literals: present
    // fields always-quoted, NULLs as nothing between separators
    val f1 = Array[Byte](0, 1) ++ enc("(1,hi)", c)
    assert(new String(PgBinary.frameToTextLine(f1, Seq(c)), "UTF-8")
      == "(\"1\",\"hi\")\n")
    val f2 = Array[Byte](0, 1) ++ enc("(1,)", c)
    assert(new String(PgBinary.frameToTextLine(f2, Seq(c)), "UTF-8")
      == "(\"1\",)\n")
  }

  test("multirange: multirange_recv wire form (pinned from a live " +
    "COPY TO (FORMAT binary) hexdump)") {
    val m = PgBinKind.Mrng(
      PgBinKind.Rng(PgBinKind.I4, "int4range"), "int4multirange")
    // {[1,3),[5,7)}: int32 count, then per member int32 length + the
    // range's own payload — byte-for-byte the live hexdump
    assert(hex(enc("{[1,3),[5,7)}", m)) ==
      "0000002e" + "00000002" +
        "00000011" + "02" + "00000004" + "00000001" +
          "00000004" + "00000003" +
        "00000011" + "02" + "00000004" + "00000005" +
          "00000004" + "00000007")
    // empty multirange; whitespace tolerated everywhere
    assert(hex(enc("{}", m)) == "00000004" + "00000000")
    assert(hex(enc(" { } ", m)) == hex(enc("{}", m)))
    assert(hex(enc("{ [1,3) , [5,7) }", m)) ==
      hex(enc("{[1,3),[5,7)}", m)))
    // an 'empty' member ships as an empty range — the server drops it
    // on receive (make_multirange), like multirange_in does
    assert(hex(enc("{empty}", m)) ==
      "00000009" + "00000001" + "00000001" + "01")
    // unordered/overlapping members ship verbatim — canonicalization
    // (sort+merge) happens server-side on receive, live-pinned in the
    // e2e ('{[1,2),[2,3)}' lands '{[1,3)}')
    assert(enc("{[5,6),[1,2)}", m) != null)
    // malformed shapes reject (all probed live)
    assert(enc("{[1,2)", m) == null) // unterminated
    assert(enc("{[1,2),}", m) == null) // dangling comma
    assert(enc("{1,2}", m) == null) // bare scalars
    assert(enc("empty", m) == null) // no braces
    assert(enc("{[a,2)}", m) == null) // bound parse failure
    // reject frames decode to replayable multirange literals
    val f1 = Array[Byte](0, 1) ++ enc("{[1,3),[5,7)}", m)
    assert(new String(PgBinary.frameToTextLine(f1, Seq(m)), "UTF-8")
      == "{[\"1\",\"3\"),[\"5\",\"7\")}\n")
    val f2 = Array[Byte](0, 1) ++ enc("{}", m)
    assert(new String(PgBinary.frameToTextLine(f2, Seq(m)), "UTF-8")
      == "{}\n")
  }

  test("array: frameToTextLine renders a replayable always-quoted " +
    "array literal") {
    val texts = PgBinKind.Arr(PgBinKind.Text, 25)
    val nums = PgBinKind.Arr(PgBinKind.Num, 1700)
    val f1 = Array[Byte](0, 1) ++ enc("""{"a b",null,"c\\d"}""", texts)
    // tab-free field: the line escape is identity here; elements come
    // back double-quoted with their backslashes re-escaped TWICE
    // (once for the array literal, once for the COPY line)
    assert(new String(PgBinary.frameToTextLine(f1, Seq(texts)), "UTF-8")
      == "{\"a b\",NULL,\"c\\\\\\\\d\"}\n")
    val f2 = Array[Byte](0, 1) ++ enc("{1e2,NULL}", nums)
    assert(new String(PgBinary.frameToTextLine(f2, Seq(nums)), "UTF-8")
      == "{\"100\",NULL}\n")
    val f3 = Array[Byte](0, 1) ++ enc("{}", nums)
    assert(new String(PgBinary.frameToTextLine(f3, Seq(nums)), "UTF-8")
      == "{}\n")
  }

  test("hostile values reject the row, never throw or silently wrap") {
    // over-long digit runs must not throw NumberFormatException
    assert(enc("00:00:12345678901", PgBinKind.Time) == null)
    assert(enc("2020-01-01 99999999999:00", PgBinKind.Ts) == null)
    // float underflow/overflow and Java-only grammars reject like the
    // server's own input routines
    assert(enc("1e-400", PgBinKind.F8) == null)
    assert(enc("1e-400", PgBinKind.F4) == null)
    assert(enc("0e999", PgBinKind.F8) != null) // true zero stays a zero
    assert(enc("0x1.8p3", PgBinKind.F8) == null)
    // extreme years reject instead of wrapping into in-range datums
    assert(enc("11761191-01-01", PgBinKind.Date) == null ||
      hex(enc("11761191-01-01", PgBinKind.Date)).startsWith("00000004"))
    assert({
      val e = enc("11761191-01-01", PgBinKind.Date)
      e == null || {
        // if encodable it must be the TRUE day delta, not a wrap
        val days = java.time.LocalDate.of(11761191, 1, 1).toEpochDay
        days - 10957 <= Int.MaxValue
      }
    })
    assert(enc("999999999-01-01 00:00:00", PgBinKind.Ts) == null)
    // numeric with a planet-sized exponent rejects without
    // materializing the plain-notation string
    assert(enc("1e2000000000", PgBinKind.Num) == null)
    // sign laxity inside date fields rejects
    assert(enc("2000-+1-01", PgBinKind.Date) == null)
  }

  test("frameToTextLine decodes a tuple frame back to a replayable " +
    "COPY TEXT line (the server-reject file path)") {
    val kinds = Seq(PgBinKind.I4, PgBinKind.Num, PgBinKind.Date,
      PgBinKind.TsTz, PgBinKind.Time, PgBinKind.F8, PgBinKind.Uuid,
      PgBinKind.Bool, PgBinKind.Text)
    val vals = Seq("42", "-12345.678", "1999-12-31",
      "2000-01-01 01:00:00+01", "13:14:15.25", "1.5",
      "00010203-0405-0607-0809-0a0b0c0d0e0f", "t", "a\tb\\c")
    val frame = Array[Byte](0, kinds.length.toByte) ++
      vals.zip(kinds).flatMap { case (v, k) =>
        enc(v, k).toSeq
      }
    val line = new String(
      PgBinary.frameToTextLine(frame, kinds), "UTF-8")
    // canonical datum renderings: tz applied (UTC+00), tab/backslash
    // re-escaped, numeric dscale preserved
    assert(line == "42\t-12345.678\t1999-12-31\t" +
      "2000-01-01 00:00:00+00\t13:14:15.250000\t1.5\t" +
      "00010203-0405-0607-0809-0a0b0c0d0e0f\tt\ta\\tb\\\\c\n")
    // NULL fields decode to \N; malformed frames fall back to raw
    val nullFrame = Array[Byte](0, 1) ++ PgBinary.NullField
    assert(new String(PgBinary.frameToTextLine(nullFrame,
      Seq(PgBinKind.I4)), "UTF-8") == "\\N\n")
    val junk = Array[Byte](9, 9, 9)
    assert(PgBinary.frameToTextLine(junk, kinds) eq junk)
  }

  test("frameToTextLine renders BC dates/timestamps in PG's replayable " +
    "era form, never a bare negative/zero year") {
    // our encoder no longer produces BC datums (year<=0 rejects), but
    // the decode path stays defensive: a crafted frame with a BC day
    // count must render PG's own spelling. days -730119 = proleptic
    // 0000-01-01 = PG '0001-01-01 BC'
    def i32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def i64(v: Long) = i32((v >> 32).toInt) ++ i32(v.toInt)
    val bcDays = java.time.LocalDate.of(0, 1, 1).toEpochDay.toInt - 10957
    val dateFrame = Array[Byte](0, 1) ++ i32(4) ++ i32(bcDays)
    assert(new String(PgBinary.frameToTextLine(dateFrame,
      Seq(PgBinKind.Date)), "UTF-8") == "0001-01-01 BC\n")
    val bcMicros = bcDays.toLong * 86400000000L + 3600000000L
    val tsFrame = Array[Byte](0, 1) ++ i32(8) ++ i64(bcMicros)
    assert(new String(PgBinary.frameToTextLine(tsFrame,
      Seq(PgBinKind.Ts)), "UTF-8") == "0001-01-01 01:00:00 BC\n")
    // timestamptz: era token AFTER the zone, matching PG's output form
    assert(new String(PgBinary.frameToTextLine(tsFrame,
      Seq(PgBinKind.TsTz)), "UTF-8") == "0001-01-01 01:00:00+00 BC\n")
    // 2 BC: proleptic year -1 → displayed year 0002
    val bc2 = java.time.LocalDate.of(-1, 3, 5).toEpochDay.toInt - 10957
    val bc2Frame = Array[Byte](0, 1) ++ i32(4) ++ i32(bc2)
    assert(new String(PgBinary.frameToTextLine(bc2Frame,
      Seq(PgBinKind.Date)), "UTF-8") == "0002-03-05 BC\n")
  }

  test("frameToTextLine renders bytea as the escaped hex spelling") {
    val frame = Array[Byte](0, 1) ++ enc("\\x00ff5c09", PgBinKind.Bytea)
    // the LINE carries an escaped backslash: unescaping yields \x00ff5c09
    assert(new String(PgBinary.frameToTextLine(frame,
      Seq(PgBinKind.Bytea)), "UTF-8") == "\\\\x00ff5c09\n")
    // and an escape-form input decodes to the SAME canonical hex
    val frame2 = Array[Byte](0, 1) ++ enc("\\000\\377\\\\\t", PgBinKind.Bytea)
    assert(new String(PgBinary.frameToTextLine(frame2,
      Seq(PgBinKind.Bytea)), "UTF-8") == "\\\\x00ff5c09\n")
  }

  test("rowColumn renders codegen'd tuple frames; encode failure " +
    "nulls the row and the renderer emits its COPY TEXT line") {
    import spark.implicits._
    val df = Seq(("1", "2000-01-01", "ok"), ("x", "2000-01-01", "bad"),
      (null, "2000-01-02", "nul")).toDF("i", "d", "s")
    val kinds = Seq(PgBinKind.I4, PgBinKind.Date, PgBinKind.Text)
    val out = PgBinary.renderer(kinds)(df).collect()
      .map(r => (r.getAs[Array[Byte]]("value"),
        r.getAs[Array[Byte]]("reject")))
    assert(out.length == 3)
    val (v0, r0) = out(0)
    assert(hex(v0) == "0003" + // field count
      "00000004" + "00000001" + // int4 1
      "00000004" + "00000000" + // date 2000-01-01
      "00000002" + "6f6b" && r0 == null)
    val (v1, r1) = out(1)
    assert(v1 == null && new String(r1, "UTF-8") == "x\t2000-01-01\tbad\n")
    val (v2, r2) = out(2)
    assert(hex(v2) == "0003" + "ffffffff" + // NULL field
      "00000004" + "00000001" + "00000003" + "6e756c" && r2 == null)
  }

  test("both renderers carry a tagged frame's source line in the raw " +
    "slot and keep the tag out of the COPY row") {
    val f = java.nio.file.Files.createTempFile("tagged", ".csv")
    java.nio.file.Files.writeString(f, "1,ok\n2,o\"no\n")
    val tagged = graft.sources.CsvSource.tagged(spark, f.toString,
      graft.sources.CsvDialect(), Seq("i", "s"))
    type Renderer = org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame
    // (value, raw) per row, the good row first
    def render(r: Renderer) =
      r(tagged).collect().map(row => (Option(row.getAs[Array[Byte]](0)),
        row.getString(2))).sortBy(_._2 != null).toSeq
    val text = render(graft.sinks.CopySink.textRenderer)
    assert(text.map(t => (t._1.map(new String(_, "UTF-8")), t._2)).head ==
      (Some("1\tok\n"), null))
    assert(text(1)._2 == "2,o\"no")
    val bin = render(PgBinary.renderer(Seq(PgBinKind.I4, PgBinKind.Text)))
    assert(hex(bin.head._1.orNull) == "0002" + "00000004" + "00000001" +
      "00000002" + "6f6b" && bin.head._2 == null)
    assert(bin(1)._2 == "2,o\"no")
  }
}
