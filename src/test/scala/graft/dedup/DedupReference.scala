package graft.dedup

/** The first-occurrence-order forms of [[Dedup.charShingles]] and
  * [[Dedup.shingles]], kept in test scope as their parity oracle: the same
  * per-position FNV hashes, made distinct through a boxed hash set that
  * keeps each value's first position. */
object DedupReference {

  def charShingles(text: String, w: Int = 5): Array[Long] =
    if (text.length < w) Array(Dedup.fnv1a(text))
    else {
      val n = text.length - w + 1
      val out = new Array[Long](n)
      val seen = new java.util.HashSet[java.lang.Long](n * 2)
      var m = 0
      var i = 0
      while (i < n) {
        var h = 0xcbf29ce484222325L
        var k = i
        val end = i + w
        while (k < end) {
          h ^= text.charAt(k).toLong
          h *= 0x100000001b3L
          k += 1
        }
        if (seen.add(h)) { out(m) = h; m += 1 }
        i += 1
      }
      if (m == n) out else java.util.Arrays.copyOf(out, m)
    }

  private def fnvFold(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def shingles(text: String): Array[Long] = {
    val ws = text.trim.split("\\s+")
    if (ws.length < 3) Array(Dedup.fnv1a(ws.mkString(" ")))
    else {
      val n = ws.length - 2
      val out = new Array[Long](n)
      val seen = new java.util.HashSet[java.lang.Long](n * 2)
      var m = 0
      var i = 0
      while (i < n) {
        var h = 0xcbf29ce484222325L
        h = fnvFold(h, ws(i))
        h = (h ^ ' '.toLong) * 0x100000001b3L
        h = fnvFold(h, ws(i + 1))
        h = (h ^ ' '.toLong) * 0x100000001b3L
        h = fnvFold(h, ws(i + 2))
        if (seen.add(h)) { out(m) = h; m += 1 }
        i += 1
      }
      if (m == n) out else java.util.Arrays.copyOf(out, m)
    }
  }
}
