package graft.dedup

/** Suffix array (SA-IS) + Kasai LCP — the in-memory kernel behind the
  * suffix-array long-repeat pass (engine analogue of the reference's
  * Merkle-subtree maximal-duplicate regions, tree_approach.cpp:413-477,
  * re-expressed for variable-length text). Public textbook algorithms.
  *
  * SA-IS (Nong, Zhang & Chan, DCC 2009): induced sorting from the LMS
  * suffixes, recursing on the reduced string of LMS-substring names —
  * linear time, plain int arrays, no comparator and no size limit beyond
  * the JVM array bound.
  */
object SuffixArray {

  /** Suffix array of s (unsigned byte order; a suffix that is a prefix of
    * another sorts first).
    */
  def build(s: Array[Byte]): Array[Int] = {
    val t = new Array[Int](s.length)
    var i = 0
    while (i < s.length) { t(i) = s(i) & 0xff; i += 1 }
    sais(t, 255)
  }

  /** SA-IS over symbols in [0, upper]. */
  private def sais(s: Array[Int], upper: Int): Array[Int] = {
    val n = s.length
    if (n == 0) return Array.emptyIntArray
    if (n == 1) return Array(0)
    if (n == 2) return if (s(0) < s(1)) Array(0, 1) else Array(1, 0)
    // S-type (true) / L-type (false); the last suffix is L against the
    // implicit smallest sentinel
    val ls = new Array[Boolean](n)
    var i = n - 2
    while (i >= 0) {
      ls(i) = if (s(i) == s(i + 1)) ls(i + 1) else s(i) < s(i + 1)
      i -= 1
    }
    // bucket starts: sumL(c) = first slot of c's bucket (its L part comes
    // first), sumS(c) = first slot of c's S part
    val sumL = new Array[Int](upper + 2)
    val sumS = new Array[Int](upper + 2)
    i = 0
    while (i < n) {
      if (!ls(i)) sumS(s(i)) += 1 else sumL(s(i) + 1) += 1
      i += 1
    }
    i = 0
    while (i <= upper) {
      sumS(i) += sumL(i)
      if (i < upper) sumL(i + 1) += sumS(i)
      i += 1
    }
    val sa = new Array[Int](n)
    val bkt = new Array[Int](upper + 2)
    def induce(lms: Array[Int]): Unit = {
      java.util.Arrays.fill(sa, -1)
      System.arraycopy(sumS, 0, bkt, 0, upper + 1)
      for (d <- lms) if (d != n) { sa(bkt(s(d))) = d; bkt(s(d)) += 1 }
      System.arraycopy(sumL, 0, bkt, 0, upper + 1)
      sa(bkt(s(n - 1))) = n - 1; bkt(s(n - 1)) += 1
      var k = 0
      while (k < n) {
        val v = sa(k)
        if (v >= 1 && !ls(v - 1)) { sa(bkt(s(v - 1))) = v - 1; bkt(s(v - 1)) += 1 }
        k += 1
      }
      System.arraycopy(sumL, 0, bkt, 0, upper + 1)
      k = n - 1
      while (k >= 0) {
        val v = sa(k)
        if (v >= 1 && ls(v - 1)) { bkt(s(v - 1) + 1) -= 1; sa(bkt(s(v - 1) + 1)) = v - 1 }
        k -= 1
      }
    }
    // LMS positions (S preceded by L), numbered left to right
    val lmsMap = Array.fill(n + 1)(-1)
    var m = 0
    i = 1
    while (i < n) {
      if (!ls(i - 1) && ls(i)) { lmsMap(i) = m; m += 1 }
      i += 1
    }
    val lms = new Array[Int](m)
    i = 1
    while (i < n) {
      if (!ls(i - 1) && ls(i)) lms(lmsMap(i)) = i
      i += 1
    }
    induce(lms)
    if (m > 0) {
      // name the LMS substrings in induced order; equal substrings share a
      // name, and the reduced string's suffix array orders the LMS suffixes
      val sorted = new Array[Int](m)
      var c = 0
      for (v <- sa) if (lmsMap(v) != -1) { sorted(c) = v; c += 1 }
      val rec = new Array[Int](m)
      var recUpper = 0
      rec(lmsMap(sorted(0))) = 0
      var k = 1
      while (k < m) {
        var l = sorted(k - 1)
        var r = sorted(k)
        val endL = if (lmsMap(l) + 1 < m) lms(lmsMap(l) + 1) else n
        val endR = if (lmsMap(r) + 1 < m) lms(lmsMap(r) + 1) else n
        var same = true
        if (endL - l != endR - r) same = false
        else {
          while (l < endL && s(l) == s(r)) { l += 1; r += 1 }
          if (l == n || s(l) != s(r)) same = false
        }
        if (!same) recUpper += 1
        rec(lmsMap(sorted(k))) = recUpper
        k += 1
      }
      val recSa = sais(rec, recUpper)
      k = 0
      while (k < m) { sorted(k) = lms(recSa(k)); k += 1 }
      induce(sorted)
    }
    sa
  }

  /** LCP array via Kasai: lcp(i) = lcp(sa(i), sa(i+1)), length n-1. */
  def kasai(s: Array[Byte], sa: Array[Int]): Array[Int] = {
    val n = s.length
    if (n <= 1) return Array.emptyIntArray
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    val lcp = new Array[Int](n - 1)
    var h = 0
    i = 0
    while (i < n) {
      if (rank(i) + 1 < n) {
        val j = sa(rank(i) + 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    lcp
  }
}
