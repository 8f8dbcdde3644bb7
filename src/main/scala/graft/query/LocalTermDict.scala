package graft.query

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.analyze.{Levenshtein, SymSpell}
import graft.index.TermDf

/** An in-memory term dictionary (field, term, df): the Spark-native
  * analogue of tantivy's per-segment FST, which the reference consults
  * in memory at query-compile time (lnx delegates term lookups to
  * tantivy's mmap'd term dictionary). It is the one implementation of
  * every compile-time lookup (exact df, prefix / fuzzy / regex
  * expansion, fast-fuzzy correction). QueryEngine asks a sequence of
  * pieces and merges their answers on the driver (`merge`): the driver
  * snapshot of the whole dictionary when it fits the cap, otherwise one
  * piece per partial-df partition, asked in one job.
  *
  * Each piece applies the same caps and orders to its own terms:
  *  - term order is UTF8-binary (Spark's StringType sort order),
  *    realized by sorting on UTF-8 bytes unsigned;
  *  - prefix match is byte-prefix match on that order (UTF-8 is a
  *    prefix code, so it equals UTF8String.startsWith);
  *  - fuzzy admission is Levenshtein.distance (property-pinned equal to
  *    Spark's codepoint-counting builtin, SymSpellSpec), length-banded
  *    on CODEPOINT counts (`max(1, n-d) .. n+d`);
  *  - caps take the first MaxExpansions under (dist asc, term asc) /
  *    (term asc) in UTF8-binary term order;
  *  - regex matching uses the `^(?:pattern)$` java.util.regex form
  *    Spark's RLike compiles, with matcher.find() (RLike's call), and
  *    conservative literal-prefix pruning (prefix-range narrowing never
  *    changes the match set: every match carries the prefix).
  * So a term inside the global cap is inside the local cap of every
  * piece that holds it, and the merge (sum the partial dfs per term,
  * re-sort, re-cap) is exact for any split of the partial dfs into
  * pieces (LocalDictSpec: 1 piece == N pieces).
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

  /** Fuzzy expansion: admitted set {dist <= maxDist} from the codepoint
    * length band, capped at `cap` under (dist asc, term asc UTF8), then
    * re-sorted by (dist, term) in Java String order. Returns
    * (term, df, dist).
    */
  def fuzzyCapped(field: String, tok: String, maxDist: Int, cap: Int): Seq[(String, Long, Int)] = {
    val admitted = fuzzyAdmitted(field, tok, maxDist)
    // (dist, idx) sort: idx order IS UTF8-binary term order
    val capped = admitted.sortBy(t => (t._1, t._2)).take(cap)
    val fd = fields.get(field)
    capped.map { case (d, i) => (fd.terms(i), fd.dfs(i), d) }
      .sortBy(t => (t._3, t._1))
  }

  /** Uncapped admitted (term, df) set at `maxDist`: at
    * SymSpell.MaxDistance, the fast-fuzzy correction candidates
    * `SymSpell.pickBestDf` picks from.
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

  /** This piece's answers to every lookup of `ask`, each under its cap
    * and order over this piece's terms alone (`merge` combines pieces). */
  def answer(ask: DictAsk): DictPartial = {
    import SearchDefaults.MaxExpansions
    DictPartial(
      ask.exact.flatMap(k => df(k._1, k._2).map(k -> _)).toMap,
      ask.prefix.map(k => k -> prefixCapped(k._1, k._2, MaxExpansions)).toMap,
      ask.fuzzy.map(k => k -> fuzzyCapped(k._1, k._3, k._2, MaxExpansions)).toMap,
      ask.correct.map(k => k -> fuzzyAll(k._1, k._2, SymSpell.MaxDistance)).toMap,
      ask.regex.map(k => k -> regexCapped(k._1, k._2, MaxExpansions)).toMap)
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

  /** UTF8-binary order: unsigned UTF-8 bytes, Spark's StringType order. */
  private val Unsigned: Ordering[Array[Byte]] =
    Ordering.comparatorToOrdering((a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))

  private def utf8(term: String): Array[Byte] = term.getBytes(StandardCharsets.UTF_8)

  /** A dictionary over (field, term, df) rows holding no (field, term) twice. */
  def fromRows(rows: IterableOnce[TermDf]): LocalTermDict = {
    val byField = new java.util.HashMap[String, FieldDict]()
    rows.iterator.toArray.groupBy(_.field).foreach { case (field, rs) =>
      val bytes = rs.map(r => utf8(r.term))
      val order = rs.indices.sortBy(i => bytes(i))(Unsigned)
      byField.put(field, new FieldDict(
        order.map(i => rs(i).term).toArray,
        order.map(i => bytes(i)).toArray,
        order.map(i => rs(i).df).toArray))
    }
    new LocalTermDict(byField)
  }

  /** Every lookup a compile (or a compile batch) needs, asked of each
    * piece at once: exact (field, term); prefix (field, prefix without
    * its `*`); fuzzy (field, maxDist, token); correct (field, token),
    * fast-fuzzy; regex (field, pattern). */
  final case class DictAsk(
      exact: Seq[(String, String)] = Nil,
      prefix: Seq[(String, String)] = Nil,
      fuzzy: Seq[(String, Int, String)] = Nil,
      correct: Seq[(String, String)] = Nil,
      regex: Seq[(String, String)] = Nil) {
    def isEmpty: Boolean =
      exact.isEmpty && prefix.isEmpty && fuzzy.isEmpty && correct.isEmpty && regex.isEmpty
  }

  /** One piece's answers to a DictAsk over its own terms: partial dfs,
    * capped expansions, and per fast-fuzzy token every term within
    * SymSpell.MaxDistance. */
  final case class DictPartial(
      dfs: Map[(String, String), Long],
      prefix: Map[(String, String), Seq[(String, Long)]],
      fuzzy: Map[(String, Int, String), Seq[(String, Long, Int)]],
      near: Map[(String, String), Seq[(String, Long)]],
      regex: Map[(String, String), Seq[(String, Long)]])

  /** The answers to a DictAsk over the whole dictionary: the df of every
    * exact term it holds; per prefix, fuzzy token and regex the capped
    * expansion (absent or empty when nothing matches); per fast-fuzzy
    * token its correction with the corrected term's df, None when no
    * term is within SymSpell.MaxDistance. */
  final case class DictAnswer(
      dfs: Map[(String, String), Long],
      prefix: Map[(String, String), Seq[(String, Long)]],
      fuzzy: Map[(String, Int, String), Seq[(String, Long, Int)]],
      corrections: Map[(String, String), Option[(String, Long)]],
      regex: Map[(String, String), Seq[(String, Long)]])

  object DictAnswer {
    val empty: DictAnswer = DictAnswer(Map.empty, Map.empty, Map.empty, Map.empty, Map.empty)
  }

  /** The pieces' answers to `ask` merged into the whole dictionary's:
    * partial dfs summed per term, then each expansion re-sorted in its
    * order (UTF8-binary term; (dist, UTF8-binary term) for fuzzy) and
    * re-capped, which is exact because every piece applied the same cap
    * and order; then the final orders the compile reads (prefix and
    * fuzzy in Java String order, regex UTF8-binary). Fast-fuzzy picks
    * from the summed candidates (`SymSpell.pickBestDf`). */
  def merge(ask: DictAsk, parts: Seq[DictPartial]): DictAnswer = {
    import SearchDefaults.MaxExpansions
    def summed[K](rows: Seq[(K, Long)]): Map[K, Long] = rows.groupMapReduce(_._1)(_._2)(_ + _)
    def capped(hits: Seq[(String, Long)]): Seq[(String, Long)] =
      summed(hits).toSeq.sortBy(t => utf8(t._1))(Unsigned).take(MaxExpansions)
    DictAnswer(
      summed(parts.flatMap(_.dfs)),
      ask.prefix.map(k => k -> capped(parts.flatMap(_.prefix.getOrElse(k, Nil))).sortBy(_._1)).toMap,
      ask.fuzzy.map { k =>
        val hits = parts.flatMap(_.fuzzy.getOrElse(k, Nil))
        val dist = hits.map(h => h._1 -> h._3).toMap
        k -> summed(hits.map(h => h._1 -> h._2)).toSeq.map { case (t, df) => (t, df, dist(t)) }
          .sortBy(t => (t._3, utf8(t._1)))(Ordering.Tuple2(Ordering.Int, Unsigned))
          .take(MaxExpansions).sortBy(t => (t._3, t._1))
      }.toMap,
      ask.correct.map(k =>
        k -> SymSpell.pickBestDf(k._2, summed(parts.flatMap(_.near.getOrElse(k, Nil))).toSeq)).toMap,
      ask.regex.map(k => k -> capped(parts.flatMap(_.regex.getOrElse(k, Nil)))).toMap)
  }
}
