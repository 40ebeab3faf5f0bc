package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Value-level kernels for ClickHouse scalar semantics Spark lacks
  * (SURVEY.md §4.2; reference: IPv4/IPv6 `clickhouse-arrow/src/native/
  * values/ip.rs`, UUID `values/clickhouse_uuid.rs`, Int256
  * `values/int256.rs` — 453 LoC of bigint plumbing re-expressed over
  * JVM BigInteger + byte kernels).
  *
  * Static, allocation-light methods so the Catalyst expressions in
  * [[ValueExpressions]] can call them from generated code (whole-stage
  * codegen emits a direct static call — no boxing, no reflection).
  * Malformed input throws IllegalArgumentException (ANSI-style), matching
  * the reference's strict parse errors.
  */
object CHValues {

  // ------------------------------------------------------------- IPv4

  /** 4-byte big-endian → dotted quad (ip.rs text form). */
  def ipv4ToString(b: Array[Byte]): UTF8String = {
    require(b.length == 4, s"IPv4 binary must be 4 bytes, got ${b.length}")
    UTF8String.fromString(
      s"${b(0) & 0xff}.${b(1) & 0xff}.${b(2) & 0xff}.${b(3) & 0xff}")
  }

  /** Dotted quad → 4-byte big-endian: the strict [[parseIpv4Literal]],
    * throwing on anything it rejects. */
  def ipv4FromString(s: UTF8String): Array[Byte] =
    parsedOrThrow("IPv4", s, parseIpv4Literal(s.toString))

  private def parsedOrThrow(kind: String, s: UTF8String, b: Array[Byte]): Array[Byte] = {
    if (b == null) throw new IllegalArgumentException(s"malformed $kind: '$s'")
    b
  }

  // ------------------------------------------------------------- IPv6

  /** 16 bytes → RFC 5952 canonical text: lowercase, no leading zeros,
    * longest (leftmost on tie) run of >=2 zero groups compressed to `::`. */
  def ipv6ToString(b: Array[Byte]): UTF8String = {
    require(b.length == 16, s"IPv6 binary must be 16 bytes, got ${b.length}")
    val groups = Array.tabulate(8)(i => ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
    // find longest zero run of length >= 2
    var bestStart = -1; var bestLen = 0
    var i = 0
    while (i < 8) {
      if (groups(i) == 0) {
        var j = i
        while (j < 8 && groups(j) == 0) j += 1
        if (j - i > bestLen && j - i >= 2) { bestStart = i; bestLen = j - i }
        i = j
      } else i += 1
    }
    val sb = new java.lang.StringBuilder(45)
    i = 0
    while (i < 8) {
      if (i == bestStart) {
        sb.append("::")
        i += bestLen
      } else {
        if (sb.length > 0 && sb.charAt(sb.length - 1) != ':') sb.append(':')
        sb.append(Integer.toHexString(groups(i)))
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** RFC 4291 text (with optional `::` and trailing dotted-quad) → 16
    * bytes: the strict [[parseIpv6Literal]], throwing on anything it
    * rejects. */
  def ipv6FromString(s: UTF8String): Array[Byte] =
    parsedOrThrow("IPv6", s, parseIpv6Literal(s.toString))

  // ------------------------------------------------------------- UUID

  private val hex = "0123456789abcdef".toCharArray

  /** 16 bytes → canonical 8-4-4-4-12 lowercase form
    * (clickhouse_uuid.rs text form). */
  def uuidToString(b: Array[Byte]): UTF8String = {
    require(b.length == 16, s"UUID binary must be 16 bytes, got ${b.length}")
    val out = new Array[Char](36)
    var i = 0; var o = 0
    while (i < 16) {
      if (i == 4 || i == 6 || i == 8 || i == 10) { out(o) = '-'; o += 1 }
      out(o) = hex((b(i) >> 4) & 0xf); o += 1
      out(o) = hex(b(i) & 0xf); o += 1
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Canonical (or dashless) hex text → 16 bytes; case-insensitive. */
  def uuidFromString(s: UTF8String): Array[Byte] = {
    val clean = s.toString.replace("-", "")
    require(clean.length == 32, s"malformed UUID: $s")
    val out = new Array[Byte](16)
    var i = 0
    while (i < 16) {
      out(i) = ((Character.digit(clean.charAt(2 * i), 16) << 4)
        | Character.digit(clean.charAt(2 * i + 1), 16)).toByte
      require(Character.digit(clean.charAt(2 * i), 16) >= 0
        && Character.digit(clean.charAt(2 * i + 1), 16) >= 0, s"malformed UUID: $s")
      i += 1
    }
    out
  }

  // ------------------------------------------------------------ Int256

  /** 32-byte big-endian two's-complement → decimal string
    * (int256.rs Display). */
  def int256ToString(b: Array[Byte]): UTF8String = {
    require(b.length == 32, s"Int256 binary must be 32 bytes, got ${b.length}")
    UTF8String.fromString(new java.math.BigInteger(b).toString)
  }

  private val INT256_MIN = java.math.BigInteger.ONE.shiftLeft(255).negate()
  private val INT256_MAX = java.math.BigInteger.ONE.shiftLeft(255).subtract(java.math.BigInteger.ONE)

  /** Decimal string → 32-byte big-endian two's-complement, sign-extended;
    * range-checked like int256.rs TryFrom. */
  def int256FromString(s: UTF8String): Array[Byte] = {
    val v = new java.math.BigInteger(s.toString.trim)
    require(v.compareTo(INT256_MIN) >= 0 && v.compareTo(INT256_MAX) <= 0,
      s"Int256 out of range: $s")
    val raw = v.toByteArray // minimal two's complement
    val out = new Array[Byte](32)
    val fill: Byte = if (v.signum() < 0) -1 else 0
    java.util.Arrays.fill(out, fill)
    System.arraycopy(raw, math.max(0, raw.length - 32), out, math.max(0, 32 - raw.length),
      math.min(32, raw.length))
    out
  }

  /** Order-preserving sort key: flipping the sign bit makes unsigned
    * byte-lexicographic order (Spark's BinaryType ordering) equal numeric
    * order — Int256 columns sort/join/range-partition with NATIVE binary
    * comparisons, no custom physical operator needed at any scale. */
  def int256SortKey(b: Array[Byte]): Array[Byte] = {
    require(b.length == 32, s"Int256 binary must be 32 bytes, got ${b.length}")
    val out = b.clone()
    out(0) = (out(0) ^ 0x80).toByte
    out
  }

  /** Three-way numeric compare of two Int256 values. */
  def int256Compare(a: Array[Byte], b: Array[Byte]): Int = {
    require(a.length == 32 && b.length == 32, "Int256 binary must be 32 bytes")
    val sa = a(0) & 0x80; val sb = b(0) & 0x80
    if (sa != sb) return if (sa != 0) -1 else 1 // negative sign bit set → smaller
    var i = 0
    while (i < 32) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return Integer.signum(d)
      i += 1
    }
    0
  }

  /** Karp-Rabin rolling hash (base 31 mod 1e9+7) over the string's
    * characters — the x_text_fingerprint kernel, hoisted from an
    * interpreted `aggregate(...)` HOF into a JIT'd loop callable from
    * whole-stage codegen (round-1 verdict's remaining interpreter spot).
    * Semantics identical to the SQL form: per-char `acc*31 + codepoint
    * (mod p)` with non-negative mod.
    */
  def rollingFingerprint(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      acc = java.lang.Math.floorMod(acc * 31 + str.charAt(i), 1000000007L)
      i += 1
    }
    acc
  }

  // ------------------------------------------------- first-match replace

  /** CH `replaceOne` (string_replace_functions): first occurrence of the
    * literal needle only; empty needle → unchanged, like CH. */
  def replaceOne(s: UTF8String, from: UTF8String, to: UTF8String): UTF8String = {
    val str = s.toString
    val f = from.toString
    if (f.isEmpty) return s
    val i = str.indexOf(f)
    if (i < 0) s
    else UTF8String.fromString(
      str.substring(0, i) + to.toString + str.substring(i + f.length))
  }

  /** CH `\N` backreferences → Java `$N`; literal `$`/`\` escaped
    * (a dangling trailing backslash becomes a literal one, like CH,
    * instead of crashing Matcher.replaceFirst). */
  private def chReplacementToJava(repl: String): String = {
    val sb = new java.lang.StringBuilder(repl.length + 8)
    var i = 0
    while (i < repl.length) {
      val c = repl.charAt(i)
      if (c == '\\' && i + 1 < repl.length && Character.isDigit(repl.charAt(i + 1))) {
        sb.append('$').append(repl.charAt(i + 1)); i += 2
      } else if (c == '\\' && i + 1 < repl.length) {
        sb.append('\\').append('\\').append(repl.charAt(i + 1)); i += 2
      } else if (c == '\\') { sb.append("\\\\"); i += 1 } // lone trailing \
      else if (c == '$') { sb.append("\\$"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // per-thread single-slot cache: the pattern is almost always a literal
  // (one distinct value per query), and Pattern.compile per ROW is the
  // hot-path waste Spark's own RegExpReplace caches away identically
  private val lastRegex = new ThreadLocal[(String, java.util.regex.Pattern, String, String)]

  /** CH `replaceRegexpOne`: first regex match only, `\N` backreference
    * syntax (CH's RE2 dialect is a compatible subset of Java regex for
    * the common patterns; exotic RE2-isms differ — documented). */
  def replaceRegexpOne(s: UTF8String, pattern: UTF8String, repl: UTF8String): UTF8String = {
    val p = pattern.toString
    val r = repl.toString
    var cached = lastRegex.get()
    if (cached == null || cached._1 != p || cached._3 != r) {
      cached = (p, java.util.regex.Pattern.compile(p), r, chReplacementToJava(r))
      lastRegex.set(cached)
    }
    UTF8String.fromString(cached._2.matcher(s.toString).replaceFirst(cached._4))
  }

  // ------------------------------------------------------------ hashing

  /** SipHash-2-4 (Aumasson & Bernstein, the published algorithm; core
    * pinned against the paper's test vectors in ChDialectSpec). CH's
    * `sipHash64` is this with a zero key over the value's bytes
    * (ClickHouse SQL reference, hash functions — the keyed spelling
    * `sipHash64Keyed` exposes the same core with explicit (k0, k1)). */
  def sipHash24(k0: Long, k1: Long, data: Array[Byte]): Long = {
    var v0 = k0 ^ 0x736f6d6570736575L
    var v1 = k1 ^ 0x646f72616e646f6dL
    var v2 = k0 ^ 0x6c7967656e657261L
    var v3 = k1 ^ 0x7465646279746573L

    @inline def round(): Unit = {
      v0 += v1; v1 = java.lang.Long.rotateLeft(v1, 13); v1 ^= v0
      v0 = java.lang.Long.rotateLeft(v0, 32)
      v2 += v3; v3 = java.lang.Long.rotateLeft(v3, 16); v3 ^= v2
      v0 += v3; v3 = java.lang.Long.rotateLeft(v3, 21); v3 ^= v0
      v2 += v1; v1 = java.lang.Long.rotateLeft(v1, 17); v1 ^= v2
      v2 = java.lang.Long.rotateLeft(v2, 32)
    }

    val n = data.length
    val full = n - (n % 8)
    var i = 0
    while (i < full) {
      var m = 0L
      var j = 7
      while (j >= 0) { m = (m << 8) | (data(i + j) & 0xffL); j -= 1 }
      v3 ^= m; round(); round(); v0 ^= m
      i += 8
    }
    var last = (n.toLong & 0xffL) << 56
    var j = n - 1
    while (j >= full) { last |= (data(j) & 0xffL) << (8 * (j - full)); j -= 1 }
    v3 ^= last; round(); round(); v0 ^= last
    v2 ^= 0xff
    round(); round(); round(); round()
    v0 ^ v1 ^ v2 ^ v3
  }

  /** CH `sipHash64(x)`: zero-key SipHash-2-4 over the raw bytes. */
  def sipHash64(data: Array[Byte]): Long = sipHash24(0L, 0L, data)

  // -------------------------------------------------- CityHash 1.0.2
  // ClickHouse pins cityHash64 to the PRE-1.0.3 CityHash semantics (its
  // native protocol also checksums every compressed block with
  // CityHash128 — the reference transports those at
  // clickhouse-arrow/src/compression.rs:47 via the cityhash-rs "102"
  // kernels). Transcribed from the published city.cc 1.0.2 algorithm
  // (Pike & Alakuijala, Google 2011); Scala Long arithmetic is
  // 2's-complement mod-2^64, exactly the uint64 ops the paper needs.

  private final val cityK0 = 0xc3a5c85c97cb3127L
  private final val cityK1 = 0xb492b66fbe98f273L
  private final val cityK2 = 0x9ae16a3b2f90404fL
  private final val cityK3 = 0xc949d7c7509e6557L
  private final val hashKMul = 0x9ddfea08eb382d69L

  @inline private def fetch64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var j = 7
    while (j >= 0) { v = (v << 8) | (b(i + j) & 0xffL); j -= 1 }
    v // little-endian load
  }
  @inline private def fetch32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  @inline private def rotR(v: Long, s: Int): Long = java.lang.Long.rotateRight(v, s)
  @inline private def shiftMix(v: Long): Long = v ^ (v >>> 47)

  /** city.cc `Hash128to64(uint128(u, v))`: u is the LOW half — the
    * farmhash mix with `mul` fixed to kMul (one transcription, not two:
    * the dual-transcription selfcheck exists to catch copy drift). */
  @inline private def hashLen16(u: Long, v: Long): Long =
    farmHashLen16(u, v, hashKMul)

  private def cityHashLen0to16(s: Array[Byte]): Long = {
    val len = s.length
    if (len > 8) {
      val a = fetch64(s, 0)
      val b = fetch64(s, len - 8)
      // RotateByAtLeast1(b + len, len): len is 9..16, never 0
      hashLen16(a, rotR(b + len, len)) ^ b
    } else if (len >= 4) {
      val a = fetch32(s, 0)
      hashLen16(len + (a << 3), fetch32(s, len - 4))
    } else if (len > 0) {
      val a = s(0) & 0xffL
      val b = s(len >> 1) & 0xffL
      val c = s(len - 1) & 0xffL
      val y = a + (b << 8)
      val z = len + (c << 2)
      shiftMix(y * cityK2 ^ z * cityK3) * cityK2
    } else cityK2
  }

  private def cityHashLen17to32(s: Array[Byte]): Long = {
    val len = s.length
    val a = fetch64(s, 0) * cityK1
    val b = fetch64(s, 8)
    val c = fetch64(s, len - 8) * cityK2
    val d = fetch64(s, len - 16) * cityK0
    hashLen16(
      rotR(a - b, 43) + rotR(c, 30) + d,
      a + rotR(b ^ cityK3, 20) - c + len)
  }

  private def cityHashLen33to64(s: Array[Byte]): Long = {
    val len = s.length
    var z = fetch64(s, 24)
    var a = fetch64(s, 0) + (len + fetch64(s, len - 16)) * cityK0
    var b = rotR(a + z, 52)
    var c = rotR(a, 37)
    a += fetch64(s, 8)
    c += rotR(a, 7)
    a += fetch64(s, 16)
    val vf = a + z
    val vs = b + rotR(a, 31) + c
    a = fetch64(s, 16) + fetch64(s, len - 32)
    z = fetch64(s, len - 8)
    b = rotR(a + z, 52)
    c = rotR(a, 37)
    a += fetch64(s, len - 24)
    c += rotR(a, 7)
    a += fetch64(s, len - 16)
    val wf = a + z
    val ws = b + rotR(a, 31) + c
    val r = shiftMix((vf + ws) * cityK2 + (wf + vs) * cityK0)
    shiftMix(r * cityK0 + vs) * cityK2
  }

  /** city.cc `WeakHashLen32WithSeeds` over s[off..off+32). */
  private def cityWeak32(s: Array[Byte], off: Int, a0: Long, b0: Long): (Long, Long) = {
    val w = fetch64(s, off)
    val x = fetch64(s, off + 8)
    val y = fetch64(s, off + 16)
    val z = fetch64(s, off + 24)
    var a = a0 + w
    var b = rotR(b0 + a + z, 21)
    val c = a
    a += x
    a += y
    b += rotR(a, 44)
    (a + z, b + c)
  }

  /** CH `cityHash64(s)`: CityHash64 v1.0.2 over the raw bytes. */
  def cityHash64(s: Array[Byte]): Long = {
    val len = s.length
    if (len <= 16) cityHashLen0to16(s)
    else if (len <= 32) cityHashLen17to32(s)
    else if (len <= 64) cityHashLen33to64(s)
    else {
      var x = fetch64(s, 0)
      var y = fetch64(s, len - 16) ^ cityK1
      var z = fetch64(s, len - 56) ^ cityK0
      var v = cityWeak32(s, len - 64, len.toLong, y)
      var w = cityWeak32(s, len - 32, len.toLong * cityK1, cityK0)
      z += shiftMix(v._2) * cityK1
      x = rotR(z + x, 39) * cityK1
      y = rotR(y, 33) * cityK1
      var off = 0
      var rem = (len - 1) & ~63
      do {
        x = rotR(x + y + v._1 + fetch64(s, off + 16), 37) * cityK1
        y = rotR(y + v._2 + fetch64(s, off + 48), 42) * cityK1
        x ^= w._2
        y ^= v._1
        z = rotR(z ^ w._1, 33)
        v = cityWeak32(s, off, v._2 * cityK1, x + w._1)
        w = cityWeak32(s, off + 32, z + w._2, y)
        val t = z; z = x; x = t
        off += 64
        rem -= 64
      } while (rem != 0)
      hashLen16(
        hashLen16(v._1, w._1) + shiftMix(y) * cityK1 + z,
        hashLen16(v._2, w._2) + x)
    }
  }

  /** city.cc 1.0.2 `CityMurmur` over s[off, off+len) with a 128-bit
    * seed — the short-input (< 128 bytes) half of CityHash128. */
  private def cityMurmur(s: Array[Byte], off: Int, len: Int,
      seedLo: Long, seedHi: Long): (Long, Long) = {
    var a = seedLo
    var b = seedHi
    var c = 0L
    var d = 0L
    var l = len - 16
    if (l <= 0) { // len <= 16
      c = b * cityK1 + cityHashLen0to16(java.util.Arrays.copyOfRange(s, off, off + len))
      d = rotR(b + (if (len >= 8) fetch64(s, off) else c), 32)
    } else { // len > 16
      c = hashLen16(fetch64(s, off + len - 8) + cityK1, a)
      d = hashLen16(b + len, c + fetch64(s, off + len - 16))
      a += d
      var p = off
      do {
        a ^= shiftMix(fetch64(s, p) * cityK1) * cityK1
        a *= cityK1
        b ^= a
        c ^= shiftMix(fetch64(s, p + 8) * cityK1) * cityK1
        c *= cityK1
        d ^= c
        p += 16
        l -= 16
      } while (l > 0)
    }
    a = hashLen16(a, c)
    b = hashLen16(d, b)
    (a ^ b, hashLen16(b, a))
  }

  /** city.cc 1.0.2 `CityHash128WithSeed` over s[off, off+len). */
  private def cityHash128Seed(s: Array[Byte], off: Int, len: Int,
      seedLo: Long, seedHi: Long): (Long, Long) = {
    if (len < 128) return cityMurmur(s, off, len, seedLo, seedHi)
    var x = seedLo
    var y = seedHi
    var z = len.toLong * cityK1
    var vf = rotR(y ^ cityK1, 49) * cityK1 + fetch64(s, off)
    var vs = rotR(vf, 42) * cityK1 + fetch64(s, off + 8)
    var wf = rotR(y + z, 35) * cityK1 + x
    var ws = rotR(x + fetch64(s, off + 88), 53) * cityK1
    var p = off
    var rem = len
    do { // two unrolled 64-byte rounds per 128 bytes, as published
      var i = 0
      while (i < 2) {
        x = rotR(x + y + vf + fetch64(s, p + 16), 37) * cityK1
        y = rotR(y + vs + fetch64(s, p + 48), 42) * cityK1
        x ^= ws
        y ^= vf
        z = rotR(z ^ wf, 33)
        val v = cityWeak32(s, p, vs * cityK1, x + wf)
        val w = cityWeak32(s, p + 32, z + ws, y)
        vf = v._1; vs = v._2; wf = w._1; ws = w._2
        val t = z; z = x; x = t
        p += 64
        i += 1
      }
      rem -= 128
    } while (rem >= 128)
    y += rotR(wf, 37) * cityK0 + z
    x += rotR(vf + z, 49) * cityK0
    // 0 < rem < 128: up to four 32-byte chunks from the END of the input
    // (p + rem == off + len, so indexing from the end is position-stable)
    var tailDone = 0
    while (tailDone < rem) {
      tailDone += 32
      y = rotR(y - x, 42) * cityK0 + vs
      wf += fetch64(s, off + len - tailDone + 16)
      x = rotR(x, 49) * cityK0 + wf
      wf += vf
      val v = cityWeak32(s, off + len - tailDone, vf, vs)
      vf = v._1; vs = v._2
    }
    x = hashLen16(x, vf)
    y = hashLen16(y, wf)
    // 1.0.2 final combine: low half mixes w.first (1.1 switched to w.second)
    (hashLen16(x + vs, wf) + y, hashLen16(x + ws, y + vs))
  }

  /** CityHash128 v1.0.2 as (low, high) — the per-frame checksum of
    * ClickHouse's native compressed-block format (the reference
    * transports it via cityhash-rs' "102" kernel,
    * `clickhouse-arrow/src/compression.rs:47,113`). Transcribed from
    * the published city.cc 1.0.2, sharing every primitive
    * (fetch64/rotate/shiftMix/HashLen0to16/WeakHashLen32WithSeeds) with
    * the CHTypeSpec-certified [[cityHash64]]. Like farmHash64, the
    * 128-bit kernel has no in-sandbox oracle (DuckDB exposes no
    * CityHash128); CHLz4Spec pins frame-level self-consistency and
    * loud checksum failure on corruption. */
  def cityHash128(s: Array[Byte]): (Long, Long) = {
    val len = s.length
    if (len >= 16)
      cityHash128Seed(s, 16, len - 16, fetch64(s, 0) ^ cityK3, fetch64(s, 8))
    else if (len >= 8)
      cityHash128Seed(s, 0, 0, fetch64(s, 0) ^ (len.toLong * cityK0),
        fetch64(s, len - 8) ^ cityK1)
    else
      cityHash128Seed(s, 0, len, cityK0, cityK1)
  }

  // -------------------------------------------------- FarmHash Fingerprint64
  // CH `farmFingerprint64` = FarmHash `Fingerprint64` (farmhashna::Hash64
  // — the STABLE, dispatch-free 64-bit FarmHash; CH documents it as the
  // portable choice over farmHash64, whose farmhashxo kernel the library
  // itself warns may vary). Transcribed from the published farmhash.cc;
  // CHTypeSpec cross-validates every length bucket against Guava's
  // INDEPENDENT FarmHashFingerprint64 implementation.

  @inline private def farmHashLen16(u: Long, v: Long, mul: Long): Long = {
    var a = (u ^ v) * mul
    a ^= (a >>> 47)
    var b = (v ^ a) * mul
    b ^= (b >>> 47)
    b * mul
  }

  private def farmHashLen0to16(s: Array[Byte]): Long = {
    val len = s.length
    if (len >= 8) {
      val mul = cityK2 + len * 2L
      val a = fetch64(s, 0) + cityK2
      val b = fetch64(s, len - 8)
      val c = rotR(b, 37) * mul + a
      val d = (rotR(a, 25) + b) * mul
      farmHashLen16(c, d, mul)
    } else if (len >= 4) {
      val mul = cityK2 + len * 2L
      val a = fetch32(s, 0)
      farmHashLen16(len + (a << 3), fetch32(s, len - 4), mul)
    } else if (len > 0) {
      val a = s(0) & 0xffL
      val b = s(len >> 1) & 0xffL
      val c = s(len - 1) & 0xffL
      val y = a + (b << 8)
      val z = len + (c << 2)
      shiftMix(y * cityK2 ^ z * cityK0) * cityK2
    } else cityK2
  }

  private def farmHashLen17to32(s: Array[Byte]): Long = {
    val len = s.length
    val mul = cityK2 + len * 2L
    val a = fetch64(s, 0) * cityK1
    val b = fetch64(s, 8)
    val c = fetch64(s, len - 8) * mul
    val d = fetch64(s, len - 16) * cityK2
    farmHashLen16(
      rotR(a + b, 43) + rotR(c, 30) + d,
      a + rotR(b + cityK2, 18) + c, mul)
  }

  private def farmHashLen33to64(s: Array[Byte]): Long = {
    val len = s.length
    val mul = cityK2 + len * 2L
    val a = fetch64(s, 0) * cityK2
    val b = fetch64(s, 8)
    val c = fetch64(s, len - 8) * mul
    val d = fetch64(s, len - 16) * cityK2
    val y = rotR(a + b, 43) + rotR(c, 30) + d
    val z = farmHashLen16(y, a + rotR(b + cityK2, 18) + c, mul)
    val e = fetch64(s, 16) * mul
    val f = fetch64(s, 24)
    val g = (y + fetch64(s, len - 32)) * mul
    val h = (z + fetch64(s, len - 24)) * mul
    farmHashLen16(
      rotR(e + f, 43) + rotR(g, 30) + h,
      e + rotR(f + a, 18) + g, mul)
  }

  /** CH `farmFingerprint64(s)`: FarmHash Fingerprint64 over raw bytes. */
  def farmFingerprint64(s: Array[Byte]): Long = {
    val len = s.length
    if (len <= 16) farmHashLen0to16(s)
    else if (len <= 32) farmHashLen17to32(s)
    else if (len <= 64) farmHashLen33to64(s)
    else {
      val seed = 81L
      var x = seed
      var y = seed * cityK1 + 113L
      var z = shiftMix(y * cityK2 + 113L) * cityK2
      var v = (0L, 0L)
      var w = (0L, 0L)
      x = x * cityK2 + fetch64(s, 0)
      val end = ((len - 1) / 64) * 64
      val last64 = end + ((len - 1) & 63) - 63
      var off = 0
      do {
        x = rotR(x + y + v._1 + fetch64(s, off + 8), 37) * cityK1
        y = rotR(y + v._2 + fetch64(s, off + 48), 42) * cityK1
        x ^= w._2
        y += v._1 + fetch64(s, off + 40)
        z = rotR(z + w._1, 33) * cityK1
        v = cityWeak32(s, off, v._2 * cityK1, x + w._1)
        w = cityWeak32(s, off + 32, z + w._2, y + fetch64(s, off + 16))
        val t = z; z = x; x = t
        off += 64
      } while (off != end)
      val mul = cityK1 + ((z & 0xff) << 1)
      off = last64
      w = (w._1 + ((len - 1) & 63), w._2)
      v = (v._1 + w._1, v._2)
      w = (w._1 + v._1, w._2)
      x = rotR(x + y + v._1 + fetch64(s, off + 8), 37) * mul
      y = rotR(y + v._2 + fetch64(s, off + 48), 42) * mul
      x ^= w._2 * 9L
      y += v._1 * 9L + fetch64(s, off + 40)
      z = rotR(z + w._1, 33) * mul
      v = cityWeak32(s, off, v._2 * mul, x + w._1)
      w = cityWeak32(s, off + 32, z + w._2, y + fetch64(s, off + 16))
      val t = z; z = x; x = t
      farmHashLen16(
        farmHashLen16(v._1, w._1, mul) + shiftMix(y) * cityK0 + z,
        farmHashLen16(v._2, w._2, mul) + x, mul)
    }
  }

  // -------------------------------------------------- MurmurHash2 / 3
  // CH `murmurHash2_64` = Appleby's MurmurHash64A, seed 0. CH
  // `murmurHash3_128` = MurmurHash3_x64_128 seed 0 (16 raw bytes), and
  // `murmurHash3_64` is the XOR of that digest's two 64-bit halves
  // (ClickHouse MurmurHash3Impl64). The x64_128 core is cross-validated
  // against Guava's INDEPENDENT Murmur3_128 implementation in-spec.

  /** MurmurHash64A(data, seed=0): CH `murmurHash2_64`. */
  def murmurHash2_64(data: Array[Byte]): Long = {
    val m = 0xc6a4a7935bd1e995L
    val r = 47
    val len = data.length
    var h = 0L ^ (len * m)
    val full = len - (len % 8)
    var i = 0
    while (i < full) {
      var k = fetch64(data, i)
      k *= m
      k ^= k >>> r
      k *= m
      h ^= k
      h *= m
      i += 8
    }
    var j = len - 1
    while (j >= full) { // tail: switch-fallthrough in the reference
      h ^= (data(j) & 0xffL) << (8 * (j - full))
      j -= 1
    }
    if (len % 8 != 0) h *= m
    h ^= h >>> r
    h *= m
    h ^= h >>> r
    h
  }

  @inline private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** MurmurHash3_x64_128(data, seed=0) → (h1, h2). */
  def murmurHash3x64128(data: Array[Byte]): (Long, Long) = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val len = data.length
    var h1 = 0L
    var h2 = 0L
    val nblocks = len / 16
    var i = 0
    while (i < nblocks) {
      var k1 = fetch64(data, i * 16)
      var k2 = fetch64(data, i * 16 + 8)
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5L + 0x52dce729L
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5L + 0x38495ab5L
      i += 1
    }
    val tailOff = nblocks * 16
    val rem = len & 15
    var k1 = 0L
    var k2 = 0L
    var j = rem
    while (j > 8) { j -= 1; k2 ^= (data(tailOff + j) & 0xffL) << (8 * (j - 8)) }
    if (rem > 8) {
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
      j = 8
    }
    while (j > 0) { j -= 1; k1 ^= (data(tailOff + j) & 0xffL) << (8 * j) }
    if (rem > 0) {
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
    }
    h1 ^= len
    h2 ^= len
    h1 += h2
    h2 += h1
    h1 = fmix64(h1)
    h2 = fmix64(h2)
    h1 += h2
    h2 += h1
    (h1, h2)
  }

  /** CH `murmurHash3_32(s)`: MurmurHash3_x86_32 seed 0, as UInt32
    * (returned zero-extended in a Long — CH's UInt32 rides the §1.2
    * widening onto BIGINT). Cross-validated against Guava murmur3_32. */
  def murmurHash3_32(data: Array[Byte]): Long = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    val len = data.length
    var h1 = 0
    val nblocks = len / 4
    var i = 0
    while (i < nblocks) {
      var k1 = (data(i * 4) & 0xff) | ((data(i * 4 + 1) & 0xff) << 8) |
        ((data(i * 4 + 2) & 0xff) << 16) | ((data(i * 4 + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tailOff = nblocks * 4
    var j = len & 3
    while (j > 0) { j -= 1; k1 ^= (data(tailOff + j) & 0xff) << (8 * j) }
    if ((len & 3) > 0) {
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
    }
    h1 ^= len
    h1 ^= h1 >>> 16
    h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35
    h1 ^= h1 >>> 16
    h1 & 0xffffffffL
  }

  /** CH `murmurHash3_64(s)`: XOR of the x64_128 digest halves. */
  def murmurHash3_64(data: Array[Byte]): Long = {
    val (h1, h2) = murmurHash3x64128(data)
    h1 ^ h2
  }

  /** CH `murmurHash3_128(s)`: the 16 raw digest bytes (h1 LE, h2 LE). */
  def murmurHash3_128(data: Array[Byte]): Array[Byte] = {
    val (h1, h2) = murmurHash3x64128(data)
    val out = new Array[Byte](16)
    var i = 0
    while (i < 8) { out(i) = (h1 >>> (8 * i)).toByte; i += 1 }
    while (i < 16) { out(i) = (h2 >>> (8 * (i - 8))).toByte; i += 1 }
    out
  }

  // ------------------------------------------------------- UTF-8 tools

  /** CH `normalizeUTF8NFC/NFD/NFKC/NFKD` — Unicode normalization via
    * java.text.Normalizer (same UAX#15 forms CH implements via ICU). */
  def normalizeUtf8(s: UTF8String, form: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.valueOf(form.toString)))

  /** CH `isValidUTF8(s)`: strict UTF-8 validation over the raw bytes —
    * rejects truncated sequences, bad continuations, overlong forms,
    * surrogate code points and values past U+10FFFF. */
  def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xff
      val len =
        if (c < 0x80) 1
        else if ((c & 0xe0) == 0xc0) 2
        else if ((c & 0xf0) == 0xe0) 3
        else if ((c & 0xf8) == 0xf0) 4
        else return false
      if (len > 1) {
        if (i + len > n) return false
        var j = 1
        while (j < len) {
          if ((b(i + j) & 0xc0) != 0x80) return false
          j += 1
        }
        val cp = len match {
          case 2 => ((c & 0x1f) << 6) | (b(i + 1) & 0x3f)
          case 3 => ((c & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) | (b(i + 2) & 0x3f)
          case _ => ((c & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
            ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f)
        }
        if (len == 2 && cp < 0x80) return false
        if (len == 3 && (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF))) return false
        if (len == 4 && (cp < 0x10000 || cp > 0x10FFFF)) return false
      }
      i += len
    }
    true
  }

  /** CH `toValidUTF8(s)`: invalid byte sequences become U+FFFD. */
  def toValidUtf8(b: Array[Byte]): UTF8String = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    UTF8String.fromString(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
  }

  /** CH `formatReadableTimeDelta(sec)`: "1 hour, 1 minute, 1 second"
    * (largest-to-smallest units, zero units skipped, seconds carry any
    * fractional remainder like CH's default second-precision mode). */
  def formatReadableTimeDelta(secs: Double): UTF8String = {
    val neg = secs < 0
    var rest = math.abs(secs)
    val units = Seq(
      // month = 30.5 days, matching ClickHouse's formatReadableTimeDelta
      // unit table (reference behavior; was 30.44 — a silent deviation)
      ("year", 365.0 * 86400), ("month", 30.5 * 86400), ("day", 86400.0),
      ("hour", 3600.0), ("minute", 60.0))
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, span) <- units) {
      val k = math.floor(rest / span).toLong
      if (k > 0) { parts += s"$k $name" + (if (k > 1) "s" else ""); rest -= k * span }
    }
    if (parts.isEmpty || rest > 1e-9) {
      val s =
        if (rest == math.floor(rest)) rest.toLong.toString
        else BigDecimal(rest).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .underlying().stripTrailingZeros().toPlainString
      parts += s"$s second" + (if (s == "1") "" else "s")
    }
    UTF8String.fromString((if (neg) "-" else "") + parts.mkString(", "))
  }

  /** CH `stringJaccardIndex(a, b)`: Jaccard similarity of the two
    * strings' BYTE sets. */
  def stringJaccardIndex(a: UTF8String, b: UTF8String): Double = {
    val sa = new java.util.BitSet(256)
    val sb = new java.util.BitSet(256)
    a.getBytes.foreach(x => sa.set(x & 0xff))
    b.getBytes.foreach(x => sb.set(x & 0xff))
    val inter = { val t = sa.clone().asInstanceOf[java.util.BitSet]; t.and(sb); t.cardinality() }
    val union = { val t = sa.clone().asInstanceOf[java.util.BitSet]; t.or(sb); t.cardinality() }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** TRUE Damerau–Levenshtein (Lowrance–Wagner, with the last-occurrence
    * table) — transpositions may span edits, so dl('ba','acb') = 2 where
    * the restricted/OSA two-row variant (which this kernel previously
    * implemented, mislabeled as CH's) says 3. The randomized DuckDB
    * golden corpus separates the two variants and pins this one —
    * DuckDB's native damerau_levenshtein agrees. O(|a|·|b|) matrix. */
  def damerauLevenshtein(ua: UTF8String, ub: UTF8String): Int = {
    val a = ua.toString
    val b = ub.toString
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val maxDist = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = maxDist
    var i = 0
    while (i <= n) { d(i + 1)(0) = maxDist; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(0)(j + 1) = maxDist; d(1)(j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Char, Int]()
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = da.getOrDefault(b.charAt(j - 1), 0)
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = math.min(
          math.min(d(i)(j) + cost, d(i + 1)(j) + 1),
          math.min(d(i)(j + 1) + 1,
            d(k)(l) + (i - k - 1) + 1 + (j - l - 1)))
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d(n + 1)(m + 1)
  }

  /** CH `roundDuration(x)`: largest of CH's fixed duration buckets ≤ x
    * (0 below 1). The bucket table is CH's documented set. */
  private val durationBuckets = Array(1L, 10, 30, 60, 120, 180, 240, 300,
    600, 1200, 1800, 3600, 7200, 18000, 36000)
  def roundDuration(x: Long): Long = {
    if (x < 1) return 0L
    var best = 1L
    var i = 0
    while (i < durationBuckets.length) {
      if (durationBuckets(i) <= x) best = durationBuckets(i)
      i += 1
    }
    best
  }

  /** CH `roundAge(x)`: the documented demographic buckets
    * (0, 17, 18, 25, 35, 45, 55). */
  def roundAge(x: Long): Long =
    if (x < 1) 0L
    else if (x <= 17) 17L
    else if (x <= 24) 18L
    else if (x <= 34) 25L
    else if (x <= 44) 35L
    else if (x <= 54) 45L
    else 55L

  /** CH `javaHash(s)`: `h = 31*h + b` over the RAW UTF-8 bytes (signed),
    * matching ClickHouse's JavaHashImpl — NOT Java `String.hashCode`,
    * which iterates UTF-16 chars and diverges on non-ASCII input (the
    * two agree on pure-ASCII strings). Int32. */
  def javaHash(s: UTF8String): Int = {
    val b = s.getBytes
    var h = 0
    var i = 0
    while (i < b.length) { h = 31 * h + b(i); i += 1 }
    h
  }

  private val b58Alphabet =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  private val b58Index: Array[Int] = {
    val m = Array.fill(128)(-1)
    b58Alphabet.zipWithIndex.foreach { case (c, i) => m(c) = i }
    m
  }

  /** CH `base58Encode` (Bitcoin alphabet; leading zero bytes → '1's). */
  def base58Encode(s: UTF8String): UTF8String = {
    val in = s.getBytes
    var zeros = 0
    while (zeros < in.length && in(zeros) == 0) zeros += 1
    var num = BigInt(1, in)
    val sb = new StringBuilder
    while (num > 0) {
      val (q, r) = num /% 58
      sb.append(b58Alphabet(r.toInt))
      num = q
    }
    (0 until zeros).foreach(_ => sb.append('1'))
    UTF8String.fromString(sb.reverse.toString)
  }

  /** CH `base58Decode` — throws on a non-alphabet character, like CH. */
  def base58Decode(s: UTF8String): UTF8String = {
    val in = s.toString
    var ones = 0
    while (ones < in.length && in.charAt(ones) == '1') ones += 1
    var num = BigInt(0)
    var i = 0
    while (i < in.length) {
      val c = in.charAt(i)
      val v = if (c < 128) b58Index(c) else -1
      if (v < 0) throw new IllegalArgumentException(
        s"base58Decode: invalid character '$c'")
      num = num * 58 + v
      i += 1
    }
    val body = if (num == 0) Array.empty[Byte] else {
      val b = num.toByteArray
      if (b.length > 1 && b(0) == 0) b.tail else b // strip BigInt sign byte
    }
    UTF8String.fromBytes(Array.fill[Byte](ones)(0) ++ body)
  }

  /** CH `initcap`/`initcapUTF8`: first letter of each word uppercased,
    * the rest lowercased — where a WORD is a maximal alphanumeric run,
    * so ANY non-alphanumeric character starts a new word ('1-urgent' →
    * '1-Urgent'; Spark's InitCap splits on whitespace only and would
    * leave it untouched). */
  def chInitcap(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = new StringBuilder(str.length)
    var wordStart = true
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (Character.isLetterOrDigit(c)) {
        out += (if (wordStart) Character.toUpperCase(c) else Character.toLowerCase(c))
        wordStart = false
      } else {
        out += c
        wordStart = true
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }

  /** CH `decodeXMLComponent`: the five predefined XML entities plus
    * numeric character references (`&#65;`, `&#x41;`). An unrecognized
    * or unterminated `&...` sequence passes through verbatim (CH's
    * lenient behavior). */
  def decodeXmlComponent(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.indexOf('&') < 0) return s
    val out = new StringBuilder(str.length)
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (c != '&') { out += c; i += 1 }
      else {
        val semi = str.indexOf(';', i + 1)
        val handled = semi > i && (semi - i) <= 10 && {
          val body = str.substring(i + 1, semi)
          body match {
            case "lt" => out += '<'; true
            case "gt" => out += '>'; true
            case "amp" => out += '&'; true
            case "quot" => out += '"'; true
            case "apos" => out += '\''; true
            case _ if body.length > 1 && body.charAt(0) == '#' =>
              val (digits, radix) =
                if (body.length > 2 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                  (body.substring(2), 16)
                else (body.substring(1), 10)
              val ok = digits.nonEmpty && digits.forall(ch =>
                if (radix == 10) ch >= '0' && ch <= '9' else asciiHexDigit(ch) >= 0)
              if (ok && digits.length <= 7) {
                val cp = java.lang.Long.parseLong(digits, radix)
                // surrogate code points (D800-DFFF) are not scalar
                // values — toChars would emit a lone surrogate the
                // UTF-8 encoder mangles to '?'; pass through instead
                if (cp >= 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF)) {
                  out.appendAll(Character.toChars(cp.toInt)); true
                } else false
              } else false
            case _ => false
          }
        }
        if (handled) i = semi + 1
        else { out += '&'; i += 1 }
      }
    }
    UTF8String.fromString(out.toString)
  }

  /** ASCII-only hex digit (Character.digit also accepts Unicode digits
    * and fullwidth hex letters, which RFC 8259 / RFC 4291 reject). */
  @inline private def asciiHexDigit(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Strict RFC-8259 JSON document validation — CH `isValidJSON`.
    * Whole-input parse (trailing garbage invalid), strings require
    * valid escapes and no raw control chars, numbers follow the RFC
    * grammar (no leading zeros, no bare '.'), top-level scalars are
    * valid documents (the DuckDB `json_valid` convention the b_sql58
    * oracle pins; older simdjson builds rejected bare scalars — CH's
    * behavior there is version-dependent, documented deviation).
    * Nesting capped at 512 (the simdjson-class DoS guard). */
  def isValidJson(s: UTF8String): Boolean = {
    val str = s.toString
    val n = str.length
    var i = 0
    var depth = 0
    def ws(): Unit = {
      while (i < n && (str.charAt(i) == ' ' || str.charAt(i) == '\t' ||
        str.charAt(i) == '\n' || str.charAt(i) == '\r')) i += 1
    }
    def lit(w: String): Boolean =
      str.regionMatches(i, w, 0, w.length) && { i += w.length; true }
    def string(): Boolean = {
      i += 1 // opening quote
      while (i < n) {
        val c = str.charAt(i)
        if (c == '"') { i += 1; return true }
        else if (c == '\\') {
          i += 1
          if (i >= n) return false
          str.charAt(i) match {
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i += 1
            case 'u' =>
              if (i + 4 >= n) return false
              var k = 1
              while (k <= 4) {
                if (asciiHexDigit(str.charAt(i + k)) < 0) return false
                k += 1
              }
              i += 5
            case _ => return false
          }
        } else if (c < 0x20) return false
        else i += 1
      }
      false
    }
    def number(): Boolean = {
      if (str.charAt(i) == '-') i += 1
      if (i >= n) return false
      if (str.charAt(i) == '0') i += 1
      else if (str.charAt(i) >= '1' && str.charAt(i) <= '9') {
        while (i < n && str.charAt(i) >= '0' && str.charAt(i) <= '9') i += 1
      } else return false
      if (i < n && str.charAt(i) == '.') {
        i += 1
        if (i >= n || str.charAt(i) < '0' || str.charAt(i) > '9') return false
        while (i < n && str.charAt(i) >= '0' && str.charAt(i) <= '9') i += 1
      }
      if (i < n && (str.charAt(i) == 'e' || str.charAt(i) == 'E')) {
        i += 1
        if (i < n && (str.charAt(i) == '+' || str.charAt(i) == '-')) i += 1
        if (i >= n || str.charAt(i) < '0' || str.charAt(i) > '9') return false
        while (i < n && str.charAt(i) >= '0' && str.charAt(i) <= '9') i += 1
      }
      true
    }
    def value(): Boolean = {
      ws()
      if (i >= n) return false
      str.charAt(i) match {
        case '{' => composite(isObj = true)
        case '[' => composite(isObj = false)
        case '"' => string()
        case 't' => lit("true")
        case 'f' => lit("false")
        case 'n' => lit("null")
        case c if c == '-' || (c >= '0' && c <= '9') => number()
        case _ => false
      }
    }
    def composite(isObj: Boolean): Boolean = {
      depth += 1
      if (depth > 512) return false
      val close = if (isObj) '}' else ']'
      i += 1
      ws()
      if (i < n && str.charAt(i) == close) { i += 1; depth -= 1; return true }
      var ok = true
      var done = false
      while (ok && !done) {
        if (isObj) {
          ws()
          if (i >= n || str.charAt(i) != '"' || !string()) ok = false
          else {
            ws()
            if (i >= n || str.charAt(i) != ':') ok = false
            else { i += 1; ok = value() }
          }
        } else ok = value()
        if (ok) {
          ws()
          if (i < n && str.charAt(i) == ',') i += 1
          else if (i < n && str.charAt(i) == close) { i += 1; done = true }
          else ok = false
        }
      }
      if (ok) depth -= 1
      ok
    }
    val ok = value()
    ws()
    ok && i == n
  }

  /** Jaro similarity (Jaro 1989), character-based. Matches within the
    * standard window max(|s|,|t|)/2 - 1; transpositions are half the
    * count of order-mismatched matched characters. ASCII-exact against
    * DuckDB's independent `jaro_similarity` (the b_sql58 oracle);
    * non-ASCII compares UTF-16 chars, noted as the byte-vs-char
    * ambiguity in CH's own doc ("byte strings"). */
  def jaroSimilarity(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString.toCharArray
    val t = b.toString.toCharArray
    val n = s.length
    val m = t.length
    // empty input → 0, including empty-vs-empty (DuckDB's convention,
    // which the oracle pins; the textbook 1.0 for two empties is the
    // other common choice)
    if (n == 0 || m == 0) return 0.0
    val window = math.max(0, math.max(n, m) / 2 - 1)
    val sMatch = new Array[Boolean](n)
    val tMatch = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!tMatch(j) && s(i) == t(j)) {
          sMatch(i) = true; tMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var k = 0
    var trans = 0
    i = 0
    while (i < n) {
      if (sMatch(i)) {
        while (!tMatch(k)) k += 1
        if (s(i) != t(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val mm = matches.toDouble
    // transpositions = FLOOR(mismatched-order count / 2): the integer-
    // division variant DuckDB implements (found by the randomized golden
    // corpus — 3 order-mismatches count as 1 transposition, not 1.5);
    // both round the same way on even counts, where all the textbook
    // vectors live
    (mm / n + mm / m + (mm - (trans / 2).toDouble) / mm) / 3.0
  }

  /** Jaro-Winkler: the Jaro score boosted by the common prefix (max 4
    * chars, scaling 0.1) ONLY when Jaro exceeds the original Winkler
    * boost threshold 0.7 — measured to be DuckDB's variant too
    * ('abcdef'/'abczzz': jaro 0.667 stays unboosted), so the oracle
    * pins it. */
  def jaroWinklerSimilarity(a: UTF8String, b: UTF8String): Double = {
    val j = jaroSimilarity(a, b)
    if (j <= 0.7) return j
    val s = a.toString
    val t = b.toString
    val max = math.min(4, math.min(s.length, t.length))
    var l = 0
    while (l < max && s.charAt(l) == t.charAt(l)) l += 1
    j + l * 0.1 * (1 - j)
  }

  /** Strict IPv4 dotted-quad parse: exactly four decimal octets 0-255.
    * Returns null on anything else — never consults a resolver. */
  private def parseIpv4Literal(s: String): Array[Byte] = {
    val parts = s.split("\\.", -1)
    if (parts.length != 4) return null
    val out = new Array[Byte](4)
    var i = 0
    while (i < 4) {
      val p = parts(i)
      if (p.isEmpty || p.length > 3) return null
      var v = 0
      var j = 0
      while (j < p.length) {
        val ch = p.charAt(j)
        if (ch < '0' || ch > '9') return null
        v = v * 10 + (ch - '0')
        j += 1
      }
      if (v > 255) return null
      out(i) = v.toByte
      i += 1
    }
    out
  }

  /** Strict RFC-4291 IPv6 literal parse (one optional `::`, 1-4 hex
    * digits per group, optional embedded dotted-quad as the final
    * group). Returns the 16-byte address or null. Never touches DNS. */
  private def parseIpv6Literal(s: String): Array[Byte] = {
    val dbl = s.indexOf("::")
    if (dbl >= 0 && s.indexOf("::", dbl + 1) >= 0) return null
    val (headS, tailS) =
      if (dbl >= 0) (s.substring(0, dbl), s.substring(dbl + 2))
      else {
        if (s.startsWith(":") || s.endsWith(":")) return null
        (s, "")
      }
    def groups(p: String): Array[String] =
      if (p.isEmpty) Array.empty[String] else p.split(":", -1)
    val head = groups(headS)
    val tail = groups(tailS)
    if (head.exists(_.isEmpty) || tail.exists(_.isEmpty)) return null
    // Embedded IPv4 is only legal as the FINAL group of the address.
    val buf = new java.io.ByteArrayOutputStream(16)
    def emit(gs: Array[String], mayEndInV4: Boolean): Boolean = {
      var i = 0
      while (i < gs.length) {
        val g = gs(i)
        if (g.indexOf('.') >= 0) {
          if (!(mayEndInV4 && i == gs.length - 1)) return false
          val v4 = parseIpv4Literal(g)
          if (v4 == null) return false
          buf.write(v4, 0, 4)
        } else {
          if (g.length > 4) return false
          var v = 0
          var j = 0
          while (j < g.length) {
            val d = asciiHexDigit(g.charAt(j))
            if (d < 0) return false
            v = (v << 4) | d
            j += 1
          }
          buf.write(v >> 8)
          buf.write(v & 0xff)
        }
        i += 1
      }
      true
    }
    // RFC 4291: the dotted-quad may only BE the final 32 bits of the
    // full address — so the head may end in one only when there is no
    // '::' at all ('1.2.3.4::' is invalid; inet_pton rejects it too)
    if (!emit(head, mayEndInV4 = dbl < 0)) return null
    val headLen = buf.size
    if (!emit(tail, mayEndInV4 = true)) return null
    val total = buf.size
    if (dbl < 0) {
      if (total != 16) return null
      buf.toByteArray
    } else {
      if (total > 14) return null // '::' must cover at least one group
      val out = new Array[Byte](16)
      val bytes = buf.toByteArray
      System.arraycopy(bytes, 0, out, 0, headLen)
      System.arraycopy(bytes, headLen, out, 16 - (total - headLen), total - headLen)
      out
    }
  }

  /** Strict literal address parse (4- or 16-byte result, or null). The
    * dispatcher: dotted-only → IPv4, contains ':' → IPv6, else null —
    * by construction no string can ever reach a hostname resolver. */
  private def parseIpLiteral(s: String): Array[Byte] =
    if (s.indexOf(':') >= 0) parseIpv6Literal(s)
    else if (s.indexOf('.') >= 0) parseIpv4Literal(s)
    else null

  /** CH `isIPAddressInRange(addr, 'cidr/prefix')`: prefix-bit compare,
    * IPv4 and IPv6. Both addresses are parsed by the strict in-process
    * literal parsers above (never `InetAddress.getByName`, so no string
    * can trigger a data-driven DNS lookup); an unparseable address or
    * CIDR returns false (CH throws on malformed CIDR — documented
    * deviation toward null-safety). */
  def isIpInRange(addr: UTF8String, cidr: UTF8String): Boolean = {
    val a = addr.toString.trim
    val c = cidr.toString.trim
    val slash = c.lastIndexOf('/')
    if (slash < 0) return false
    val base = c.substring(0, slash).trim
    val prefix = try c.substring(slash + 1).trim.toInt catch { case _: NumberFormatException => return false }
    val ab = parseIpLiteral(a)
    val bb = parseIpLiteral(base)
    if (ab == null || bb == null || ab.length != bb.length) return false
    if (prefix < 0 || prefix > ab.length * 8) return false
    var bits = prefix
    var i = 0
    while (bits > 0) {
      val take = math.min(8, bits)
      val mask = (0xff << (8 - take)) & 0xff
      if ((ab(i) & mask) != (bb(i) & mask)) return false
      bits -= take
      i += 1
    }
    true
  }

  // ------------------------------------------------------- text canon

  /** Fused text canonicalization — byte-for-byte equivalent to
    * `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", " "),
    * " +", " "))` but ONE pass with no intermediate string: the output
    * is the input's alphanumeric runs, lowercased, joined by single
    * spaces. This chain fronts every canonical-text operator (fuzzy
    * dedup group keys, the curation pipeline, shard packing) and two
    * Java-regex passes per document were its cost center; the fused
    * kernel stays inside whole-stage codegen via [[ValueExpressions]].
    *
    * ASCII inputs (the common case) run a zero-copy byte loop. Any
    * input containing a non-ASCII byte takes the slow path, which
    * lowercases via `UTF8String.toLowerCase` — the SAME call Spark's
    * `lower()` makes, so full-string case mappings (1→N expansions,
    * final sigma) match the reference chain exactly; every char whose
    * lowercase is outside `[a-z0-9]` is a separator on both paths.
    */
  def canonText(s: UTF8String): UTF8String = {
    val b = s.getBytes
    var ascii = true
    var i = 0
    while (i < b.length && ascii) { if (b(i) < 0) ascii = false; i += 1 }
    if (!ascii) return canonTextSlow(s)
    val out = new Array[Byte](b.length)
    var w = 0
    var pendingSep = false
    i = 0
    while (i < b.length) {
      var c = b(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && w > 0) { out(w) = ' '; w += 1 }
        pendingSep = false
        out(w) = c
        w += 1
      } else pendingSep = true
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, w))
  }

  private def canonTextSlow(s: UTF8String): UTF8String = {
    val lowered = s.toLowerCase.toString
    val sb = new java.lang.StringBuilder(lowered.length)
    var pendingSep = false
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && sb.length > 0) sb.append(' ')
        pendingSep = false
        sb.append(c)
      } else pendingSep = true
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
