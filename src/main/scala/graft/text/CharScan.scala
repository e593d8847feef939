package graft.text

/** Allocation-free text scanning for the extraction hot loop.
  *
  * The extraction kernel (Extractor.extractEncoded) runs once per
  * turn at 10^12-turn scale; with `parseForJson` + `fastTokens` it allocates
  * a cleaned String, an ArrayBuffer and one String per token — hundreds of
  * millions of short-lived objects per pass, which turns the stage
  * GC-bound at high task concurrency (the measured 4->32 core sub-linearity
  * is allocation/bandwidth, not CPU). This object provides the same two
  * steps writing into per-partition reusable buffers instead:
  *
  *  - [[CharScan.clean]]: char-exact `parseForJson` (EEASettings.java:56-63
  *    semantics, see [[TextNorm.parseForJson]]) into a reusable `char[]`.
  *  - [[CharScan.tokenize]]: whitespace tokens as (start, end, hash) offset
  *    triples into that buffer — no substrings. The per-token hash uses the
  *    `String.hashCode` recurrence (h = 31*h + c) so it can be compared at
  *    build time against hashes of real Strings.
  *  - [[TokenMap]]: open-addressing String-keyed hash map probed with a
  *    buffer slice — the marker-dictionary lookup without materializing the
  *    token.
  *
  * Equivalence with the String-based forms is property-tested
  * (FusedKernelSpec) — the cleaned buffer must equal
  * `TextNorm.parseForJson` char-for-char and the token offsets must equal
  * `TextNorm.fastTokens` on every generated input.
  */
object CharScan {

  /** Per-partition scratch buffers; grow-only, reused across turns. */
  final class Scratch {
    var buf: Array[Char] = new Array[Char](256)
    var tokStart: Array[Int] = new Array[Int](64)
    var tokEnd: Array[Int] = new Array[Int](64)
    var tokHash: Array[Int] = new Array[Int](64)
    var nTok: Int = 0

    def ensureBuf(n: Int): Unit =
      if (buf.length < n) buf = new Array[Char](math.max(n, buf.length * 2))

    def ensureTok(n: Int): Unit = if (tokStart.length < n) {
      val cap = math.max(n, tokStart.length * 2)
      tokStart = java.util.Arrays.copyOf(tokStart, cap)
      tokEnd = java.util.Arrays.copyOf(tokEnd, cap)
      tokHash = java.util.Arrays.copyOf(tokHash, cap)
    }
  }

  @inline private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `TextNorm.parseForJson` into `s.buf`; returns the cleaned length.
    * Worst-case expansion is 4x (tab -> four spaces), pre-sized once. */
  def clean(text: String, s: Scratch): Int = {
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) <= ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) <= ' ') hi -= 1
    s.ensureBuf((hi - lo) * 4 + 4)
    val buf = s.buf
    var o = 0
    var i = lo
    while (i < hi) {
      val c = text.charAt(i)
      if (c == '\n' || c == '\r') { buf(o) = ' '; o += 1; i += 1 }
      else if (c == '"') { buf(o) = '\''; o += 1; i += 1 }
      else if (c == '\t') {
        buf(o) = ' '; buf(o + 1) = ' '; buf(o + 2) = ' '; buf(o + 3) = ' '
        o += 4; i += 1
      } else if (c == '\\') {
        val next = if (i + 1 < hi) text.charAt(i + 1) else '\u0000'
        if (next == '\'' || next == '"') { buf(o) = '\''; o += 1; i += 2 }
        else if (next == 'x' && i + 3 < hi &&
                 isHex(text.charAt(i + 2)) && isHex(text.charAt(i + 3))) {
          buf(o) = '_'; o += 1; i += 4
        } else { buf(o) = '\\'; buf(o + 1) = '\\'; o += 2; i += 1 }
      } else { buf(o) = c; o += 1; i += 1 }
    }
    o
  }

  /** Whitespace tokens of `s.buf[0, len)` as offset triples; sets `s.nTok`.
    * Split class matches Java regex `\s` exactly like `fastTokens`. */
  def tokenize(s: Scratch, len: Int): Unit = {
    val buf = s.buf
    var n = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(buf(i))) i += 1
      val start = i
      var h = 0
      while (i < len && !isWs(buf(i))) { h = 31 * h + buf(i); i += 1 }
      if (i > start) {
        s.ensureTok(n + 1)
        s.tokStart(n) = start; s.tokEnd(n) = i; s.tokHash(n) = h
        n += 1
      }
    }
    s.nTok = n
  }

  @inline private[graft] def mix(h: Int): Int = h ^ (h >>> 16)

  @inline private[graft] def eqSlice(
      k: String, buf: Array[Char], start: Int, end: Int): Boolean = {
    val n = end - start
    if (k.length != n) return false
    var i = 0
    while (i < n) {
      if (k.charAt(i) != buf(start + i)) return false
      i += 1
    }
    true
  }

  /** Immutable open-addressing map String -> Int, probed by buffer slice.
    * Linear probing, load factor <= 0.5, null key = empty slot. */
  final class TokenMap private[CharScan] (
      keys: Array[String],
      hashes: Array[Int],
      vals: Array[Int],
      mask: Int) extends Serializable {

    /** Value for `buf[start, end)` (hash `h` from the String.hashCode
      * recurrence), or -1 when absent. */
    def lookup(buf: Array[Char], start: Int, end: Int, h: Int): Int = {
      var idx = mix(h) & mask
      var k = keys(idx)
      while (k != null) {
        if (hashes(idx) == h && eqSlice(k, buf, start, end)) return vals(idx)
        idx = (idx + 1) & mask
        k = keys(idx)
      }
      -1
    }
  }

  object TokenMap {
    /** Build from parallel key/value arrays; keys must be distinct. */
    def build(ks: Array[String], vs: Array[Int]): TokenMap = {
      require(ks.length == vs.length, "keys/values length mismatch")
      var cap = 4
      while (cap < ks.length * 2) cap <<= 1
      val keys = new Array[String](cap)
      val hashes = new Array[Int](cap)
      val vals = new Array[Int](cap)
      val mask = cap - 1
      var i = 0
      while (i < ks.length) {
        val k = ks(i)
        val h = k.hashCode
        var idx = mix(h) & mask
        while (keys(idx) != null) {
          require(keys(idx) != k, s"duplicate key: $k")
          idx = (idx + 1) & mask
        }
        keys(idx) = k; hashes(idx) = h; vals(idx) = vs(i)
        i += 1
      }
      new TokenMap(keys, hashes, vals, mask)
    }
  }
}
