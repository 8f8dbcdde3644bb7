package graft.analyze

/** Plain Levenshtein edit distance with early-exit band, used driver-side
  * for fuzzy-term verification (the reference delegates fuzzy matching to
  * levenshtein automata, Cargo.lock:1453; semantics are the distance
  * itself, apis/mod.rs:225-266). Distributed candidate filtering uses
  * Spark's built-in `levenshtein` function; results must agree — Spark
  * counts CODEPOINTS (a surrogate pair is one edit), so the DP runs
  * over codepoints, not UTF-16 chars (char-based DP counted an astral
  * substitution as 2 edits and silently dropped plan-admitted
  * candidates in the driver re-verify). Surrogate-free strings (every
  * default-analyzer term: tokens are [a-z0-9]+ runs) take an
  * allocation-free char path — chars == codepoints there.
  *
  * NOTE the DuckDB oracle leg is BYTE-based (`levenshtein('héllo',
  * 'hello') = 2`), so the three-way engine/Spark/oracle agreement is
  * guaranteed only for ASCII terms — which all oracle-gated fuzzy
  * queries use (default-analyzer text columns).
  */
object Levenshtein {
  def distance(a: String, b: String, max: Int): Int = {
    if (a == b) return 0
    if (hasSurrogate(a) || hasSurrogate(b)) distCps(a.codePoints.toArray, b.codePoints.toArray, max)
    else distChars(a, b, max)
  }

  /** True iff chars != codepoints anywhere (an actual astral pair, or a
    * lone surrogate — the codepoint path handles both consistently).
    */
  private[analyze] def hasSurrogate(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      if (Character.isSurrogate(s.charAt(i))) return true
      i += 1
    }
    false
  }

  private def distChars(a: String, b: String, max: Int): Int = {
    val la = a.length
    val lb = b.length
    if (math.abs(la - lb) > max) return max + 1
    var prev = Array.tabulate(lb + 1)(identity)
    var cur = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      cur(0) = i
      var best = cur(0)
      var j = 1
      while (j <= lb) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < best) best = cur(j)
        j += 1
      }
      if (best > max) return max + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(lb), max + 1)
  }

  private def distCps(ca: Array[Int], cb: Array[Int], max: Int): Int = {
    val la = ca.length
    val lb = cb.length
    if (math.abs(la - lb) > max) return max + 1
    var prev = Array.tabulate(lb + 1)(identity)
    var cur = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      cur(0) = i
      var best = cur(0)
      var j = 1
      while (j <= lb) {
        val cost = if (ca(i - 1) == cb(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < best) best = cur(j)
        j += 1
      }
      if (best > max) return max + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(lb), max + 1)
  }
}

/** SymSpell-style spell correction: lnx's flagship "fast-fuzzy" path
  * (README.md:28,41 — correct the *query* against the dictionary
  * instead of expanding terms at search time; SURVEY.md section 2.4
  * F5). Delete-variants of depth <= 2 on both the dictionary and the
  * query cover every pair within Levenshtein distance 2 (the SymSpell
  * completeness property, SymSpellSpec); the engine picks the
  * correction among the dictionary terms within that distance
  * (`LocalTermDict`, `pickBestDf`).
  */
object SymSpell {
  final val MaxDistance = 2

  /** All strings obtained from `s` by deleting up to `d` CODEPOINTS
    * (incl. s) — codepoint granularity matches the distance definition
    * above (a char-granular delete would split surrogate pairs and
    * lose depth-2 completeness for astral-codepoint terms). Nothing
    * persists this output, so changing it needs no analyzer-version bump.
    */
  def deletes(s: String, d: Int = MaxDistance): Set[String] = {
    var cur = Set(s)
    var all = Set(s)
    var i = 0
    while (i < d) {
      cur = cur.flatMap { t =>
        // a length-1 string DOES have a delete — the empty string.
        // Without it, 2-char tokens at distance 2 share no variant
        // (deletes2("ab")={ab,a,b} vs deletes2("cd")={cd,c,d}) and the
        // prefilter silently drops legitimate short-term fuzzy matches
        // that the length-banded fallback path finds.
        if (t.isEmpty) Set.empty[String]
        else if (!Levenshtein.hasSurrogate(t))
          // chars == codepoints: the index-build dictionary pass pays
          // this per distinct term per segment, keep it substring-cheap
          (0 until t.length).map(j => t.substring(0, j) + t.substring(j + 1)).toSet
        else {
          // one boundary scan per string, not one offsetByCodePoints
          // rescan per deletion position
          val n = t.codePointCount(0, t.length)
          val bounds = new Array[Int](n + 1)
          var k = 0
          var off = 0
          while (k < n) { bounds(k) = off; off = t.offsetByCodePoints(off, 1); k += 1 }
          bounds(n) = t.length
          (0 until n).map(j => t.substring(0, bounds(j)) + t.substring(bounds(j + 1))).toSet
        }
      }
      all ++= cur
      i += 1
    }
    all
  }

  /** Deterministic best correction among verified candidates:
    * min distance, then max df, then lexicographic term.
    */
  def pickBest(query: String, cands: Seq[(String, Long)]): Option[String] =
    pickBestDf(query, cands).map(_._1)

  /** As pickBest, also returning the winner's dictionary df — the
    * correction candidates carry it already, so callers need no
    * second dictionary lookup for the corrected term's weight.
    */
  def pickBestDf(query: String, cands: Seq[(String, Long)]): Option[(String, Long)] = {
    val verified = cands.flatMap { case (term, df) =>
      val d = Levenshtein.distance(query, term, MaxDistance)
      if (d <= MaxDistance) Some((d, -df, term)) else None
    }
    if (verified.isEmpty) None else {
      val best = verified.min
      Some((best._3, -best._2))
    }
  }
}
