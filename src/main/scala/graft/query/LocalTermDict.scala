package graft.query

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.analyze.Levenshtein

/** Bounded in-memory snapshot of the term dictionary (field, term, df):
  * the Spark-native analogue of tantivy's per-segment FST, which the
  * reference consults in memory at query-compile time (lnx delegates
  * term lookups to tantivy's mmap'd term dictionary — no cluster
  * round-trip per query). When the whole dictionary fits under
  * `graft.dict.localMaxTerms` (probed with ONE capped collect —
  * `limit(cap+1)` — so the probe is bounded at any corpus scale), every
  * dictionary lookup a query compile needs — exact df, prefix / fuzzy /
  * regex expansion, fast-fuzzy correction — runs driver-side with ZERO
  * Spark jobs, and novel-query latency collapses to the one scoring
  * job. Above the cap the distributed lookup jobs run unchanged (the
  * 100 TB path: the dictionary does not fit on the driver, the capped
  * in-plan expansions do).
  *
  * Result-identity contract (spec-gated in LocalDictSpec): each lookup
  * reproduces the distributed plan's semantics exactly —
  *  - term order is UTF8-binary (Spark's StringType sort order),
  *    realized by sorting the snapshot on UTF-8 bytes unsigned;
  *  - prefix match is byte-prefix match on that order (UTF-8 is a
  *    prefix code, so it equals UTF8String.startsWith);
  *  - fuzzy admission is Levenshtein.distance (property-pinned equal to
  *    Spark's codepoint-counting builtin, SymSpellSpec), length-banded
  *    on CODEPOINT counts exactly like the in-plan equi-join band
  *    (`max(1, n-d) .. n+d`);
  *  - caps take the first MaxExpansions under (dist asc, term asc) /
  *    (term asc) in UTF8-binary term order — the in-plan window /
  *    TakeOrdered order;
  *  - regex matching uses the identical `^(?:pattern)$` java.util.regex
  *    form RLike compiles, with matcher.find() (RLike's call), and the
  *    same conservative literal-prefix pruning (prefix-range narrowing
  *    never changes the match set — every match carries the prefix).
  */
final class LocalTermDict private (
    private val fields: java.util.HashMap[String, LocalTermDict.FieldDict]) {
  import LocalTermDict._

  /** Every (field, term, df) of the snapshot (specs). */
  private[graft] def entries: Seq[(String, String, Long)] =
    fields.asScala.toSeq.flatMap { case (f, fd) => fd.terms.indices.map(i => (f, fd.terms(i), fd.dfs(i))) }

  def df(field: String, term: String): Option[Long] = {
    val fd = fields.get(field)
    if (fd == null) None
    else {
      val v = fd.dfMap.get(term)
      if (v == null) None else Some(v.longValue())
    }
  }

  /** Terms starting with `pfx`: UTF8-binary order, first `cap`. */
  def prefixCapped(field: String, pfx: String, cap: Int): Seq[(String, Long)] = {
    val fd = fields.get(field)
    if (fd == null) return Nil
    val p = pfx.getBytes(StandardCharsets.UTF_8)
    var i = fd.lowerBound(p)
    val out = Seq.newBuilder[(String, Long)]
    var taken = 0
    while (i < fd.terms.length && taken < cap && startsWithBytes(fd.bytes(i), p)) {
      out += ((fd.terms(i), fd.dfs(i)))
      taken += 1
      i += 1
    }
    out.result()
  }

  /** Fuzzy expansion with the distributed path's exact shape: admitted
    * set {dist <= maxDist} from the codepoint length band, capped at
    * `cap` under (dist asc, term asc UTF8) — the in-plan window order —
    * then the same final (dist, term) re-sort the driver applies after
    * collect. Returns (term, df, dist).
    */
  def fuzzyCapped(field: String, tok: String, maxDist: Int, cap: Int): Seq[(String, Long, Int)] = {
    val admitted = fuzzyAdmitted(field, tok, maxDist)
    // (dist, idx) sort: idx order IS UTF8-binary term order
    val capped = admitted.sortBy(t => (t._1, t._2)).take(cap)
    val fd = fields.get(field)
    capped.map { case (d, i) => (fd.terms(i), fd.dfs(i), d) }
      .sortBy(t => (t._3, t._1))
  }

  /** Uncapped admitted (term, df) set at `maxDist` — the fast-fuzzy
    * correction candidate set (the variant-prefilter path is complete
    * for d <= 2 and its pickBestDf verification reduces it to exactly
    * this set; SymSpellSpec).
    */
  def fuzzyAll(field: String, tok: String, maxDist: Int): Seq[(String, Long)] = {
    val fd = fields.get(field)
    fuzzyAdmitted(field, tok, maxDist).map { case (_, i) => (fd.terms(i), fd.dfs(i)) }
  }

  /** (dist, idx) pairs for terms within `maxDist` of `tok`, idx in
    * UTF8-sorted order (ascending within each length bucket — merged
    * buckets are re-sorted by the callers as needed).
    */
  private def fuzzyAdmitted(field: String, tok: String, maxDist: Int): Seq[(Int, Int)] = {
    val fd = fields.get(field)
    if (fd == null) return Nil
    val n = tok.codePointCount(0, tok.length)
    val out = Seq.newBuilder[(Int, Int)]
    var l = math.max(1, n - maxDist)
    while (l <= n + maxDist) {
      val idxs = fd.lenIdx.get(l)
      if (idxs != null) {
        var k = 0
        while (k < idxs.length) {
          val i = idxs(k)
          val d = Levenshtein.distance(tok, fd.terms(i), maxDist)
          if (d <= maxDist) out += ((d, i))
          k += 1
        }
      }
      l += 1
    }
    out.result()
  }

  /** Regex expansion: whole-term match via the RLike-identical wrapped
    * pattern + find(), UTF8-binary term order, first `cap`.
    */
  def regexCapped(field: String, pattern: String, cap: Int): Seq[(String, Long)] = {
    val fd = fields.get(field)
    if (fd == null) return Nil
    val re = java.util.regex.Pattern.compile("^(?:" + pattern + ")$")
    val pfx = RegexPrefix.literalPrefix(pattern)
    val p = pfx.getBytes(StandardCharsets.UTF_8)
    var i = if (pfx.isEmpty) 0 else fd.lowerBound(p)
    val out = Seq.newBuilder[(String, Long)]
    var taken = 0
    while (i < fd.terms.length && taken < cap &&
        (pfx.isEmpty || startsWithBytes(fd.bytes(i), p))) {
      if (re.matcher(fd.terms(i)).find()) {
        out += ((fd.terms(i), fd.dfs(i)))
        taken += 1
      }
      i += 1
    }
    out.result()
  }

  /** Snapshot size (diagnostics). */
  def numTerms: Int = {
    var n = 0
    val it = fields.values().iterator()
    while (it.hasNext) n += it.next().terms.length
    n
  }
}

object LocalTermDict {

  /** Per-field sorted view. `terms`/`bytes`/`dfs` are parallel arrays in
    * UTF8-binary order; `lenIdx` buckets indices by codepoint count for
    * the fuzzy length band; `dfMap` serves exact lookups.
    */
  private[query] final class FieldDict(
      val terms: Array[String],
      val bytes: Array[Array[Byte]],
      val dfs: Array[Long]) {
    val dfMap = new java.util.HashMap[String, java.lang.Long](terms.length * 2)
    val lenIdx = new java.util.HashMap[Int, Array[Int]]()
    locally {
      val byLen = new java.util.HashMap[Int, java.util.ArrayList[Integer]]()
      var i = 0
      while (i < terms.length) {
        dfMap.put(terms(i), java.lang.Long.valueOf(dfs(i)))
        val n = terms(i).codePointCount(0, terms(i).length)
        var lst = byLen.get(n)
        if (lst == null) { lst = new java.util.ArrayList[Integer](); byLen.put(n, lst) }
        lst.add(Integer.valueOf(i))
        i += 1
      }
      val it = byLen.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val lst = e.getValue
        val arr = new Array[Int](lst.size())
        var k = 0
        while (k < arr.length) { arr(k) = lst.get(k).intValue(); k += 1 }
        lenIdx.put(e.getKey, arr)
      }
    }

    /** First index whose term bytes are >= `p` (unsigned). */
    def lowerBound(p: Array[Byte]): Int = {
      var lo = 0
      var hi = terms.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(bytes(mid), p) < 0) lo = mid + 1
        else hi = mid
      }
      lo
    }
  }

  private def startsWithBytes(t: Array[Byte], p: Array[Byte]): Boolean = {
    if (t.length < p.length) return false
    var i = 0
    while (i < p.length) {
      if (t(i) != p(i)) return false
      i += 1
    }
    true
  }

  /** Build from collected (field, term, df) rows. */
  def fromRows(rows: Array[(String, String, Long)]): LocalTermDict = {
    val byField = new java.util.HashMap[String, FieldDict]()
    rows.groupBy(_._1).foreach { case (field, rs) =>
      val bytes = rs.map(_._2.getBytes(StandardCharsets.UTF_8))
      val order = (0 until rs.length).sortBy(i => bytes(i))(
        Ordering.comparatorToOrdering(
          (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)))
      byField.put(field, new FieldDict(
        order.map(i => rs(i)._2).toArray,
        order.map(i => bytes(i)).toArray,
        order.map(i => rs(i)._3).toArray))
    }
    new LocalTermDict(byField)
  }
}
