package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.LnxSql
import graft.sql.LnxSql._
import graft.sql.LnxSession
import graft.query.{Fts, QueryEngine}
import graft.index.{IndexBuilder, IndexConfig}

/** Parse-table tests mirror the reference's rstest cases
  * (lnx-query/src/sql.rs:105-118); execution tests check the dialect
  * drives the real engine with lnx semantics (upsert, default limit,
  * score(), params).
  */
class LnxSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parses SELECT with parameters (sql.rs:106)") {
    val Seq(s: Select) =
      LnxSql.parse("SELECT * FROM foobar WHERE foo = 'bar' AND example = $1")
    assert(s.table === "foobar")
    assert(s.where === Seq(ColPred("foo", "=", SLit("bar")), ColPred("example", "=", Param(1))))
  }

  test("parses INSERT (sql.rs:107)") {
    val Seq(i: Insert) =
      LnxSql.parse("INSERT INTO foobar (foo, bar) VALUES ('one', 1), ($1, $2)")
    assert(i.cols === Seq("foo", "bar"))
    assert(i.rows === Seq(Seq(SLit("one"), ILit(1L)), Seq(Param(1), Param(2))))
  }

  test("parses DELETE (sql.rs:108)") {
    val Seq(d: Delete) = LnxSql.parse("DELETE FROM foobar WHERE foo = 'bar'")
    assert(d.table === "foobar")
  }

  test("parses CREATE TABLE with PK/NOT NULL/DEFAULT/arrays (create_table.sql)") {
    val Seq(c: CreateTable) = LnxSql.parse(
      """CREATE TABLE IF NOT EXISTS books (
        |  id bigint PRIMARY KEY,
        |  title text NOT NULL,
        |  description text NOT NULL DEFAULT '',
        |  rating float,
        |  category text[]
        |)""".stripMargin)
    assert(c.ifNotExists)
    assert(c.columns.map(_.name) === Seq("id", "title", "description", "rating", "category"))
    assert(c.columns.head.primaryKey)
    assert(c.columns(2).default === Some(SLit("")))
    assert(c.columns(4).isArray)
  }

  test("parses CREATE TABLE WITH tokenizers (sql.rs:110)") {
    val Seq(c: CreateTable) = LnxSql.parse(
      "CREATE TABLE foobar (id bigint PRIMARY KEY, example text) WITH (tokenizers = (example = 'raw'))")
    assert(c.tokenizers === Map("example" -> "raw"))
  }

  test("rejects invalid statements (sql.rs:111)") {
    intercept[ParseException](LnxSql.parse("SELECT FROM WHERE"))
    intercept[ParseException](LnxSql.parse("this is not sql"))
    intercept[ParseException](LnxSql.parse(""))
  }

  test("parses multiple ;-separated statements (sql.rs:112-118)") {
    val stmts = LnxSql.parse(
      "CREATE TABLE t (id bigint PRIMARY KEY, x text); INSERT INTO t (id, x) VALUES (1, 'a'); SELECT * FROM t")
    assert(stmts.size === 3)
  }

  test("dialect edge cases fail loudly: bad LIMIT, unknown INSERT column, score() without search, malformed number") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE edge (id bigint PRIMARY KEY, body text, tags text[])")
    sess.execute("INSERT INTO edge (id, body) VALUES (1, 'alpha beta')")
    // LIMIT wrap: 2^32.toInt == 0 would silently return zero rows;
    // 2^31 would crash Spark with a negative limit
    intercept[ParseException](LnxSql.parse("SELECT id FROM edge LIMIT 4294967296"))
    intercept[ParseException](LnxSql.parse("SELECT id FROM edge LIMIT 2147483648"))
    // a misspelled INSERT column must be an error, not silent data loss
    intercept[ParseException](
      sess.execute("INSERT INTO edge (id, bdoy) VALUES (2, 'oops')"))
    // score() is undefined without a search clause — reject, don't
    // silently drop the predicate and return every row
    intercept[ParseException](
      sess.execute("SELECT id FROM edge WHERE score() > 0.5"))
    // malformed numbers keep the parser's error contract
    intercept[ParseException](LnxSql.parse("SELECT id FROM edge WHERE id = 1.2.3"))
    // reserved column name is case-insensitive (Spark resolution is)
    intercept[ParseException](
      sess.execute("CREATE TABLE bad (id bigint PRIMARY KEY, SCORE text)"))
  }

  test("UPDATE of an array column builds a proper array literal") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE arrup (id bigint PRIMARY KEY, tags text[])")
    sess.execute("INSERT INTO arrup (id, tags) VALUES (1, ARRAY['a']), (2, ARRAY['b'])")
    // lit(Seq(...)) is rejected by Spark (UNSUPPORTED_FEATURE.LITERAL_TYPE):
    // the SET value must build as array(lit(el)...) like colFilter does
    sess.execute("UPDATE arrup SET tags = ARRAY['x', 'y'] WHERE id = 1")
    val got = sess.execute("SELECT id, tags FROM arrup").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(got === Map(1L -> List("x", "y"), 2L -> List("b")))
  }

  test("LIMIT above MaxBroadcastK joins un-hinted; a small LIMIT keeps the broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE blim (id bigint PRIMARY KEY, body text)")
    sess.execute("INSERT INTO blim (id, body) VALUES (1, 'alpha beta'), (2, 'alpha gamma')")
    def hints(sql: String) =
      sess.execute(sql).queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // capped + broadcast-sized limit: the slim (docId, score) side is
    // hinted (LIMITs up to QueryEngine's lookup bound take no join at all)
    assert(hints("SELECT id FROM blim WHERE fts(body, 'alpha') ORDER BY score() DESC LIMIT 20000").nonEmpty)
    // LIMIT is unbounded user input: above the bound nothing may FORCE a
    // broadcast the planner can't refuse — AQE sizes the join at runtime
    assert(hints("SELECT id FROM blim WHERE fts(body, 'alpha') ORDER BY score() DESC LIMIT 50000000").isEmpty)
  }

  test("end-to-end: DDL, upsert, search with score(), params, default limit") {
    val sess = new LnxSession(spark)
    sess.execute(
      "CREATE TABLE books (id bigint PRIMARY KEY, title text NOT NULL, description text NOT NULL DEFAULT '', rating float)")
    sess.execute(
      "INSERT INTO books (id, title, rating) VALUES (1, 'the binary search handbook', 4.5), " +
        "(2, 'cooking for hackers', 3.0), (3, 'search engines in depth', 5.0)")
    // upsert: same PK replaces (apis/mod.rs:81-82)
    sess.execute("INSERT INTO books (id, title, rating) VALUES (2, 'searching and sorting', 3.5)")
    assert(sess.execute("SELECT id FROM books").count() === 3)
    val r = sess.execute(
      "SELECT id, title, score() AS s FROM books WHERE fts(title, $1) ORDER BY s DESC LIMIT 10",
      Seq(SLit("search")))
    val rows = r.collect()
    // exact term match: doc 2's 'searching' is a different term
    assert(rows.map(_.getLong(0)).toSet === Set(1L, 3L))
    // prefix form reaches the upserted doc 2
    val pre = sess.execute("SELECT id FROM books WHERE fts(title, 'search*')")
    assert(pre.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(rows.map(_.getFloat(2)).toSeq === rows.map(_.getFloat(2)).toSeq.sorted.reverse)
    // parameterized column predicate + fuzzy
    val f = sess.execute(
      "SELECT id FROM books WHERE fuzzy(title, 'serch') AND rating >= $1",
      Seq(NLit(4.0)))
    assert(f.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // UPDATE / DELETE
    sess.execute("UPDATE books SET rating = 1.0 WHERE id = 3")
    sess.execute("DELETE FROM books WHERE rating < 2")
    assert(sess.execute("SELECT id FROM books").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("DELETE keeps rows where the predicate is NULL (three-valued logic)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE delnull (id bigint PRIMARY KEY, t text NOT NULL, rating float)")
    // rating omitted on doc 3 -> NULL (apis/mod.rs:124-127)
    sess.execute("INSERT INTO delnull (id, t, rating) VALUES (1, 'a', 1.0), (2, 'b', 5.0)")
    sess.execute("INSERT INTO delnull (id, t) VALUES (3, 'c')")
    // predicate is NULL for doc 3: standard SQL deletes only TRUE rows,
    // so doc 3 must SURVIVE (filter(!cond) would silently drop it)
    sess.execute("DELETE FROM delnull WHERE rating < 2")
    assert(sess.execute("SELECT id FROM delnull").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L))
  }

  test("NOT NULL / PK columns reject null values on INSERT and ingest") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE nn (id bigint PRIMARY KEY, t text NOT NULL, rating float)")
    // explicit NULL into a NOT NULL column ('strictly forbid a field
    // value being null', apis/mod.rs:112)
    val e1 = intercept[LnxSql.ParseException] {
      sess.execute("INSERT INTO nn (id, t) VALUES (1, NULL)")
    }
    assert(e1.getMessage.contains("NOT NULL"))
    // omitted NOT NULL column with no DEFAULT is the same violation
    val e2 = intercept[LnxSql.ParseException] {
      sess.execute("INSERT INTO nn (id, rating) VALUES (2, 1.5)")
    }
    assert(e2.getMessage.contains("NOT NULL"))
    // a null PK would break upsert itself (null keys never anti-join)
    intercept[LnxSql.ParseException] {
      sess.execute("INSERT INTO nn (id, t) VALUES (NULL, 'x')")
    }
    // the distributed ingest path enforces the same contract
    intercept[LnxSql.ParseException] {
      sess.ingest("nn", "json", """[{"id": 3}]""".getBytes("UTF-8"))
    }
    // nullable columns still default to null (apis/mod.rs:124-127)
    sess.execute("INSERT INTO nn (id, t) VALUES (4, 'ok')")
    val r = sess.execute("SELECT id, rating FROM nn").collect()
    assert(r.length === 1 && r(0).getLong(0) === 4L && r(0).isNullAt(1))
  }

  test("UPDATE rejects PK rewrites and NULL into NOT NULL columns") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE upd (id bigint PRIMARY KEY, t text NOT NULL, rating float)")
    sess.execute("INSERT INTO upd (id, t, rating) VALUES (1, 'a', 2.0)")
    // PK is the upsert identity (INSERT = UPSERT by PK): rewriting it
    // in place would fork the row away from its identity
    val e1 = intercept[LnxSql.ParseException] {
      sess.execute("UPDATE upd SET id = 9 WHERE t = 'a'")
    }
    assert(e1.getMessage.contains("primary-key"))
    // SET c = NULL must not bypass INSERT's NOT NULL enforcement
    val e2 = intercept[LnxSql.ParseException] {
      sess.execute("UPDATE upd SET t = NULL WHERE id = 1")
    }
    assert(e2.getMessage.contains("NOT NULL"))
    // nullable columns may be nulled; nothing was mutated by the rejects
    sess.execute("UPDATE upd SET rating = NULL WHERE id = 1")
    val r = sess.execute("SELECT id, t, rating FROM upd").collect()
    assert(r.length === 1 && r(0).getLong(0) === 1L
      && r(0).getString(1) === "a" && r(0).isNullAt(2))
  }

  test("duplicate PKs within one INSERT batch: last write wins (upsert semantics)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE dupb (id bigint PRIMARY KEY, t text NOT NULL)")
    sess.execute("INSERT INTO dupb (id, t) VALUES (1, 'first'), (2, 'other'), (1, 'second')")
    val rows = sess.execute("SELECT id, t FROM dupb").collect()
    assert(rows.length === 2, "duplicate PK must collapse to one live row")
    assert(rows.find(_.getLong(0) == 1L).get.getString(1) === "second")
  }

  test("mutation releases the previous engine's cached index frames") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE relm (id bigint PRIMARY KEY, t text NOT NULL)")
    sess.execute("INSERT INTO relm (id, t) VALUES (1, 'alpha beta'), (2, 'beta gamma')")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    sess.execute("SELECT id FROM relm WHERE fts(t, 'beta')").collect()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "a SELECT must have built and cached an engine index")
    // the INSERT invalidates the engine; its cached frames must be
    // RELEASED, not just dereferenced (the CacheManager pins persisted
    // datasets strongly — a mutate-then-query loop would otherwise
    // accumulate one cached index copy per rebuild)
    sess.execute("INSERT INTO relm (id, t) VALUES (3, 'gamma delta')")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after & pinned).isEmpty, "stale engine cache leaked past a mutation")
  }

  test("multi-field index: conjunction across title and description (fuzzy.sql:9-12)") {
    val sess = new LnxSession(spark)
    sess.execute(
      "CREATE TABLE b2 (id bigint PRIMARY KEY, title text NOT NULL, description text NOT NULL DEFAULT '')")
    sess.execute("INSERT INTO b2 (id, title, description) VALUES " +
      "(1, 'binary search trees', 'a deep dive into balanced search structures'), " +
      "(2, 'binary stars', 'astrophysics of paired suns'), " +
      "(3, 'cooking basics', 'search no further for simple recipes')")
    // both clauses required: only doc 1 matches 'search' in BOTH fields
    val r = sess.execute(
      "SELECT id, score() AS s FROM b2 WHERE fts(title, 'search') AND fts(description, 'search')")
    assert(r.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // clause scores sum: conjunction score > either single-clause score
    val both = r.collect()(0).getFloat(1)
    val tOnly = sess.execute("SELECT id, score() AS s FROM b2 WHERE fts(title, 'search')")
      .collect().find(_.getLong(0) == 1L).get.getFloat(1)
    assert(both > tOnly)
  }

  test("SQL results match the programmatic engine exactly") {
    val sess = new LnxSession(spark)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    sess.register("documents", docs, Seq("doc_id"), Seq("text"))
    val viaSql = sess.execute(
      "SELECT doc_id, score() AS s FROM documents WHERE fts(text, 'merge sort data') ORDER BY score() DESC LIMIT 10")
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val idx = IndexBuilder.build(docs, IndexConfig(Seq("doc_id"), Seq("text"), 4096, 4))
    val eng = new QueryEngine(idx)
    val direct = eng.withDocs(eng.searchF32(Seq(Fts("text", "merge sort data")), 10), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(viaSql.toSet === direct.toSet)
  }

  test("reference examples run VERBATIM: create_table.sql + fuzzy.sql with $1/$2 bound") {
    def ref(name: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/root/reference/examples/queries/$name")), "UTF-8")
    val sess = new LnxSession(spark)
    sess.execute(ref("create_table.sql"))
    sess.execute(ref("create_table.sql")) // IF NOT EXISTS: second run is a no-op
    sess.execute("INSERT INTO books (id, title, description, category) VALUES " +
      "(1, 'the dragon rider', 'a tale of dragons and riders', ARRAY['fantasy', 'epic']), " +
      "(2, 'dragon cooking', 'recipes inspired by dragons', ARRAY['cooking']), " +
      "(3, 'the dagron atlas', 'maps of dargon territories', ARRAY['fantasy', 'maps']), " +
      "(4, 'space operas', 'starships and lasers', ARRAY['scifi'])")
    // $1 = misspelled query term, $2 = category (array membership)
    val rows = sess.execute(ref("fuzzy.sql"), Seq(SLit("dragon"), SLit("fantasy"))).collect()
    // docs 1 and 3 fuzzy-match 'dragon' in BOTH fields and carry 'fantasy';
    // doc 2 matches both fields but not the category
    assert(rows.map(_.getLong(0)).toSet === Set(1L, 3L))
    val scores = rows.map(_.getFloat(5)).toSeq
    assert(scores === scores.sorted.reverse) // ORDER BY score DESC respected
    assert(rows.head.schema.fieldNames.toSeq ===
      Seq("id", "title", "description", "rating", "category", "score"))
  }

  test("array literals, array params, and whole-array equality") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE at (id bigint PRIMARY KEY, tags text[])")
    sess.execute("INSERT INTO at (id, tags) VALUES (1, ARRAY['a', 'b']), (2, ARRAY['b']), (3, $1)",
      Seq(ALit(Seq(SLit("c"), SLit("a")))))
    // scalar vs text[]: membership (multi-value field semantics)
    assert(sess.execute("SELECT id FROM at WHERE tags = 'a' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // array param binds through $n
    assert(sess.execute("SELECT id FROM at WHERE tags = $1", Seq(SLit("b")))
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // array literal vs text[]: whole-array equality
    assert(sess.execute("SELECT id FROM at WHERE tags = ARRAY['a', 'b']")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(sess.execute("SELECT id FROM at WHERE tags <> 'b' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("ip columns canonicalize: '::1' equals '0:0:0:0:0:0:0:1' (apis/mod.rs:176)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ips (id bigint PRIMARY KEY, addr ip)")
    sess.execute("INSERT INTO ips (id, addr) VALUES (1, '::1'), (2, '127.0.0.1'), " +
      "(3, '::ffff:10.0.0.1')")
    assert(sess.execute("SELECT id FROM ips WHERE addr = '0:0:0:0:0:0:0:1'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // IPv4-mapped IPv6 collapses to the dotted form
    assert(sess.execute("SELECT id FROM ips WHERE addr = '10.0.0.1'")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("UPDATE normalizes like INSERT: ip canonicalization + uint range checks apply") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE upn (id bigint PRIMARY KEY, addr ip, n uint64)")
    sess.execute("INSERT INTO upn (id, addr, n) VALUES (1, '::2', 5)")
    sess.execute("UPDATE upn SET addr = '::1' WHERE id = 1")
    // the updated value must be stored canonically, so the canonicalized
    // predicate literal still matches
    assert(sess.execute("SELECT id FROM upn WHERE addr = '0:0:0:0:0:0:0:1'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    intercept[ParseException](sess.execute("UPDATE upn SET n = -3 WHERE id = 1"))
  }

  test("fuzz: parser is total — random inputs parse or throw ParseException only (seeded)") {
    // the hand-rolled recursive-descent parser's contract: every input
    // either parses or raises ParseException with a position — never a
    // NumberFormatException from a literal edge ('9e999', '1.2.3'), an
    // index error from a truncated token stream, or a MatchError from
    // an unexpected token shape. Fragment soup biases the fuzz toward
    // NEARLY-valid statements, which reach far deeper than raw noise.
    val rnd = new scala.util.Random(0xF0220L)
    val frag = Array("SELECT", "INSERT", "INTO", "*", "FROM", "WHERE", "AND",
      "LIMIT", "ORDER", "BY", "VALUES", "CREATE", "TABLE", "DELETE", "UPDATE",
      "SET", "(", ")", ",", "=", ">", "<", ">=", "<>", "'abc", "'x'", "$1",
      "$", "$99999999999999999999", "1.2.3", "9e999", "-", ".", "fts", "score()",
      "18446744073709551999", "t", "[", "]", "ARRAY", ";", "''", "NOT", "NULL",
      "PRIMARY", "KEY", "DEFAULT", "IF", "EXISTS", "desc", "--", "/*")
    var parsed = 0
    for (i <- 1 to 6000) {
      val sb = new StringBuilder
      (0 until rnd.nextInt(24)).foreach { _ =>
        if (rnd.nextInt(4) == 0) sb.append((rnd.nextInt(94) + 33).toChar)
        else { sb.append(frag(rnd.nextInt(frag.length))); sb.append(' ') }
      }
      val s = sb.toString
      try { LnxSql.parse(s); parsed += 1 }
      catch {
        case _: ParseException => ()
        case e: Throwable =>
          fail(s"case $i input <$s> threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // random soup should essentially never be a valid statement; if it
    // all parsed, the catch block is eating the signal
    assert(parsed < 60, s"degenerate fuzz: $parsed/6000 parsed")
    // and the harness itself must let a valid statement through
    assert(LnxSql.parse("SELECT * FROM t WHERE a = 1 LIMIT 5").nonEmpty)
  }

  test("property: ip canonical form is order-exact and display-roundtrips (seeded)") {
    // the r03-flagged defect class was ORDER, so the property is order:
    // lexicographic comparison of the stored 32-hex form must agree
    // with numeric comparison of the canonical 16-byte value on random
    // v4/v6 pairs (mixed families included — v4 maps into ::ffff:a.b.c.d
    // space), and ipDisplay must round-trip through canonIp exactly
    val sess = new LnxSession(spark)
    val rnd = new scala.util.Random(0x15EEDL)
    def v4() = Seq.fill(4)(rnd.nextInt(256)).mkString(".")
    def v6() = Seq.fill(8)(if (rnd.nextInt(3) == 0) 0 else rnd.nextInt(0x10000))
      .map(g => f"$g%x").mkString(":")
    val ips = (Seq.fill(120)(v4()) ++ Seq.fill(120)(v6())).distinct
    val canons = ips.map(ip => ip -> sess.canonIp(ip))
    canons.foreach { case (ip, c) =>
      assert(c.length == 32 && c.forall(ch => ch.isDigit || (ch >= 'a' && ch <= 'f')),
        s"$ip -> $c is not 32 lowercase hex") }
    def num(ip: String): BigInt = {
      val b = java.net.InetAddress.getByName(ip).getAddress
      BigInt(1, if (b.length == 4) Array.fill[Byte](10)(0) ++ Array[Byte](-1, -1) ++ b else b)
    }
    canons.combinations(2).take(4000).foreach { case Seq((ipA, cA), (ipB, cB)) =>
      assert(cA.compareTo(cB).sign === num(ipA).compare(num(ipB)).sign,
        s"order($ipA, $ipB) disagrees between hex form and numeric value")
    }
    import spark.implicits._
    val col = org.apache.spark.sql.functions.col _
    val displayed = canons.map(_._2).toDF("canon")
      .select(col("canon"), sess.ipDisplay(col("canon")).as("disp")).collect()
    displayed.foreach { r =>
      assert(sess.canonIp(r.getString(1)) === r.getString(0),
        s"display '${r.getString(1)}' does not re-canonicalize to ${r.getString(0)}")
    }
  }

  test("canonIp rejects non-literal input instead of falling back to DNS") {
    val sess = new LnxSession(spark)
    // all-hex and out-of-range-octet strings pass naive charset checks
    // but are NOT IP literals — must throw, never resolve
    intercept[ParseException](sess.canonIp("deadbeef"))
    intercept[ParseException](sess.canonIp("999.0.0.1"))
    intercept[ParseException](sess.canonIp("cafe"))
    // storage form = 32-hex of the canonical 16-byte value
    // (IPv4-mapped for dotted quads) — lexicographic == numeric order
    assert(sess.canonIp("10.0.0.1") === "00000000000000000000ffff0a000001")
    assert(sess.canonIp("::1") === "00000000000000000000000000000001")
    assert(sess.canonIp("::1") === sess.canonIp("0:0:0:0:0:0:0:1"))
  }

  test("ip range predicates order numerically: 10.0.0.1 > 9.0.0.1 (apis/mod.rs:176)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ipr (id bigint PRIMARY KEY, addr ip)")
    sess.execute("INSERT INTO ipr (id, addr) VALUES (1, '9.0.0.1'), (2, '10.0.0.1'), " +
      "(3, '9.0.0.2'), (4, '::1'), (5, '200.1.1.1')")
    // text order would put '10.0.0.1' < '9.0.0.1'; 16-byte order must not.
    // '::1' (::0001) sorts below every IPv4-mapped address.
    assert(sess.execute("SELECT id FROM ipr WHERE addr > '9.0.0.1' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L, 5L))
    assert(sess.execute("SELECT id FROM ipr WHERE addr < '9.0.0.1' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(4L))
    assert(sess.execute("SELECT id FROM ipr WHERE addr >= '10.0.0.1' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 5L))
    // SELECT renders the stored hex back to display text
    val shown = sess.execute("SELECT id, addr FROM ipr ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(shown(1L) === "9.0.0.1" && shown(2L) === "10.0.0.1")
    assert(shown(4L) === "0:0:0:0:0:0:0:1")
    val star = sess.execute("SELECT * FROM ipr WHERE id = 5").collect()(0)
    assert(star.getString(star.fieldIndex("addr")) === "200.1.1.1")
  }

  test("persist + attach round-trips lnx column types: ip semantics survive the store") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ipp (id bigint PRIMARY KEY, addr ip, note text)")
    sess.execute("INSERT INTO ipp (id, addr, note) VALUES " +
      "(1, '9.0.0.1', 'alpha'), (2, '10.0.0.1', 'beta'), (3, '200.1.1.1', 'gamma')")
    val dir = java.nio.file.Files.createTempDirectory("lnx-persist-attach").toString
    try {
      sess.persist("ipp", dir)
      // a FRESH session (no in-memory defs) attaches the store: without
      // the KV-carried ColumnDefs 'addr' would degrade to plain string —
      // the range predicate would compare dotted quads against stored
      // 32-hex and silently match nothing
      val s2 = new LnxSession(spark)
      s2.attach("ipp2", dir)
      assert(s2.execute("SELECT id FROM ipp2 WHERE addr > '9.0.0.1' ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
      assert(s2.execute("SELECT id FROM ipp2 WHERE addr = '10.0.0.1'")
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
      // projection renders display text, not the stored hex
      val shown = s2.execute("SELECT id, addr FROM ipp2 ORDER BY id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(shown(1L) === "9.0.0.1" && shown(2L) === "10.0.0.1")
      s2.table("ipp2").engine.foreach(_.release())
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("timestamp literals parse as UTC epoch values, independent of the JVM default timezone") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE tsu (id bigint PRIMARY KEY, ts timestamp)")
    val dflt = java.util.TimeZone.getDefault
    try {
      // Timestamp.valueOf would interpret this wall-clock in GMT+5:30
      // and store an instant shifted by -19800s; the UTC parse must not
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("GMT+05:30"))
      sess.execute("INSERT INTO tsu (id, ts) VALUES (1, '2020-01-02 03:04:05')")
    } finally java.util.TimeZone.setDefault(dflt)
    val got = sess.execute("SELECT id, ts FROM tsu").collect()(0).getTimestamp(1)
    assert(got.toInstant === java.time.Instant.parse("2020-01-02T03:04:05Z"))
    intercept[ParseException](
      sess.execute("INSERT INTO tsu (id, ts) VALUES (2, 'not a time')"))
  }

  test("unsigned range checks: uint64/uint32 reject out-of-range inserts") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE us (id bigint PRIMARY KEY, a uint64, b uint32)")
    sess.execute("INSERT INTO us (id, a, b) VALUES (1, 5, 4294967295)")
    intercept[ParseException](
      sess.execute("INSERT INTO us (id, a, b) VALUES (2, -1, 0)"))
    intercept[ParseException](
      sess.execute("INSERT INTO us (id, a, b) VALUES (3, 0, 4294967296)"))
    assert(sess.execute("SELECT id FROM us").count() === 1)
  }

  test("attach(): query a persisted IndexStore table without rebuild or doc caching") {
    import graft.index.{IndexConfig, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graftattach").toString
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    IndexStore.create(docs,
      IndexConfig(Seq("doc_id"), Seq("text"), 1024, 4), dir).unpersist()
    val sess = new LnxSession(spark)
    sess.attach("persisted", dir)
    val viaStore = sess.execute(
      "SELECT doc_id, score() AS s FROM persisted WHERE fts(text, 'merge sort data') " +
        "ORDER BY s DESC LIMIT 10").collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    // identical to the in-memory register() path
    sess.register("mem", docs, Seq("doc_id"), Seq("text"))
    val viaMem = sess.execute(
      "SELECT doc_id, score() AS s FROM mem WHERE fts(text, 'merge sort data') " +
        "ORDER BY s DESC LIMIT 10").collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(viaStore.toSet === viaMem.toSet)
    // scale contract: the attached engine's doc store is not pinned
    val eng = sess.table("persisted").engine.get
    assert(eng.index.docs.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    IndexStore.drop(dir)
  }

  test("attach(atVersion): time travel over the versioned metastore") {
    import graft.index.{IndexConfig, IndexStore}
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = java.nio.file.Files.createTempDirectory("graftattachpin").toString
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    IndexStore.create(docs, IndexConfig(Seq("doc_id"), Seq("text"), 1024, 4), dir)
      .unpersist()
    val v1 = IndexStore.currentVersion(dir)
    // a later epoch adds marker docs the PINNED view must not see
    IndexStore.appendEpoch(
      docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(col("text"), lit(" pinnedattachmarker"))),
      dir, "snap-late")
    val sess = new LnxSession(spark)
    sess.attach("latest", dir)
    sess.attach("pinned", dir, atVersion = v1)
    val q = "SELECT doc_id FROM %s WHERE fts(text, 'pinnedattachmarker') LIMIT 100"
    assert(sess.execute(q.format("latest")).collect().length === 5)
    assert(sess.execute(q.format("pinned")).collect().length === 0,
      "the vN-pinned table must not see the later epoch")
    IndexStore.drop(dir)
  }

  test("facet_counts() in the dialect: hierarchical drill-down over the match set") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE fc (id bigint PRIMARY KEY, t text, cat facet)")
    sess.execute("INSERT INTO fc (id, t, cat) VALUES " +
      "(1, 'data merge', '/lang/en'), (2, 'data sort', '/lang/en'), " +
      "(3, 'data scan', '/lang/fr'), (4, 'cooking', '/lang/fr')")
    // counts per path prefix over docs matching the search clause
    val r = sess.execute(
      "SELECT facet_counts(cat) FROM fc WHERE fts(t, 'data') ORDER BY facet")
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r === Seq(("/lang", 3L), ("/lang/en", 2L), ("/lang/fr", 1L)))
    // no WHERE: counts over all docs; ORDER BY cnt DESC + LIMIT apply
    val all = sess.execute("SELECT facet_counts(cat) FROM fc ORDER BY cnt DESC LIMIT 1")
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(all === Seq(("/lang", 4L)))
    // column predicates restrict the counted docs
    val filt = sess.execute(
      "SELECT facet_counts(cat) FROM fc WHERE fts(t, 'data') AND id <= 2 ORDER BY facet")
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(filt === Seq(("/lang", 2L), ("/lang/en", 2L)))
    // facet_counts must be the only SELECT column
    intercept[ParseException](
      sess.execute("SELECT id, facet_counts(cat) FROM fc"))
  }

  test("raw tokenizer: column indexed as ONE exact token; query tokenized with the column's tokenizer") {
    val sess = new LnxSession(spark)
    // the reference's parse-test DDL shape (sql.rs:110)
    sess.execute("CREATE TABLE rt (id bigint PRIMARY KEY, name text, tag text) " +
      "WITH (tokenizers = (tag = 'raw'))")
    sess.execute("INSERT INTO rt (id, name, tag) VALUES " +
      "(1, 'Binary Search', 'Binary Search'), (2, 'binary', 'binary'), " +
      "(3, 'search trees', 'Binary')")
    // raw: the whole value is one un-analyzed token -> exact-value match
    assert(sess.execute("SELECT id FROM rt WHERE fts(tag, 'Binary Search')")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // no analysis: sub-tokens and case variants do NOT match
    assert(sess.execute("SELECT id FROM rt WHERE fts(tag, 'binary search')").count() === 0)
    assert(sess.execute("SELECT id FROM rt WHERE fts(tag, 'Binary')")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(sess.execute("SELECT id FROM rt WHERE fts(tag, 'Search')").count() === 0)
    // the default-analyzed column of the SAME table still splits + lowercases
    assert(sess.execute("SELECT id FROM rt WHERE fts(name, 'binary')")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // unknown tokenizer names / non-text targets are rejected at CREATE
    intercept[ParseException](sess.execute(
      "CREATE TABLE badtok (id bigint PRIMARY KEY, t text) WITH (tokenizers = (t = 'nope'))"))
    intercept[ParseException](sess.execute(
      "CREATE TABLE badtok2 (id bigint PRIMARY KEY, n bigint, t text) WITH (tokenizers = (n = 'raw'))"))
  }

  test("whitespace tokenizer: splits on whitespace only, no lowercasing, no camelCase split") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE wt (id bigint PRIMARY KEY, t text) " +
      "WITH (tokenizers = (t = 'whitespace'))")
    sess.execute("INSERT INTO wt (id, t) VALUES (1, 'FooBar baz'), (2, 'foobar BAZ')")
    assert(sess.execute("SELECT id FROM wt WHERE fts(t, 'FooBar')")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(sess.execute("SELECT id FROM wt WHERE fts(t, 'foobar')")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(sess.execute("SELECT id FROM wt WHERE fts(t, 'baz')")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // camelCase fragment is NOT a token under whitespace
    assert(sess.execute("SELECT id FROM wt WHERE fts(t, 'Bar')").count() === 0)
  }

  test("integer literals keep 64-bit precision (no double round-trip)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE big (id bigint PRIMARY KEY, a bigint, b uint64)")
    // 2^53 + 1 and Long.MaxValue are NOT representable as doubles; a
    // Double-backed literal would silently store ...992 / ...5808
    sess.execute("INSERT INTO big (id, a, b) VALUES " +
      "(1, 9007199254740993, 9223372036854775807), (2, -9007199254740993, 0)")
    val rows = sess.execute("SELECT id, a, b FROM big ORDER BY id").collect()
    assert(rows(0).getLong(1) === 9007199254740993L)
    assert(rows(0).getLong(2) === Long.MaxValue)
    assert(rows(1).getLong(1) === -9007199254740993L)
    // exact predicate on the stored exact value
    assert(sess.execute("SELECT id FROM big WHERE a = 9007199254740993")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(sess.execute("SELECT id FROM big WHERE a = 9007199254740992").count() === 0)
    // beyond Long range: rejected at parse, not wrapped
    intercept[ParseException](
      sess.execute("INSERT INTO big (id, a, b) VALUES (3, 0, 18446744073709551615)"))
    // decimals still take the double path
    sess.execute("CREATE TABLE dec (id bigint PRIMARY KEY, r float64)")
    sess.execute("INSERT INTO dec (id, r) VALUES (1, 4.25)")
    assert(sess.execute("SELECT r FROM dec").collect()(0).getDouble(0) === 4.25)
  }

  test("NDJSON ingest: spark.read.json into a registered table (S3 decode path)") {
    val dir = java.nio.file.Files.createTempDirectory("ndjson").toString
    val f = java.nio.file.Paths.get(dir, "docs.ndjson")
    java.nio.file.Files.write(f,
      ("""{"id": 1, "body": "merge sort in linear passes"}""" + "\n" +
        """{"id": 2, "body": "binary search over sorted runs"}""" + "\n" +
        """{"id": 3, "body": "cooking with gas"}""" + "\n").getBytes("UTF-8"))
    val df = spark.read.json(dir)
    val sess = new LnxSession(spark)
    sess.register("nd", df, Seq("id"), Seq("body"))
    val r = sess.execute("SELECT id FROM nd WHERE fts(body, 'sort*') ORDER BY id")
    assert(r.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("EXPLAIN surface returns clause summary + physical plan (query.rs:36-43)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ex (id bigint PRIMARY KEY, t text)")
    sess.execute("INSERT INTO ex (id, t) VALUES (1, 'alpha beta'), (2, 'beta gamma')")
    val plan = sess.execute("EXPLAIN SELECT id, score() AS s FROM ex WHERE fts(t, 'beta')")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("search clause: fts(t, ...)"))
    assert(plan.contains("Physical Plan") || plan.contains("Exchange") || plan.contains("Scan"))
  }

  test("parse LRU + compiled-query LRU serve repeated queries without recompiling") {
    val sess = new LnxSession(spark)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    sess.register("documents", docs, Seq("doc_id"), Seq("text"))
    val sql = "SELECT doc_id FROM documents WHERE fuzzy(text, $1) LIMIT 5"
    sess.execute(sql, Seq(SLit("mrege"))).collect()
    val hits0 = sess.parseCacheHits
    val eng = sess.table("documents").engine.get
    val cHits0 = eng.compileCacheHits
    val pHits0 = eng.planCacheHits
    sess.execute(sql, Seq(SLit("mrege"))).collect()
    assert(sess.parseCacheHits > hits0, "second execute should hit the parse LRU")
    // the repeat is served without re-running dictionary jobs: either
    // the compile LRU fires, or the stronger planned-frame LRU serves
    // the whole query before compile() is even reached
    assert(eng.compileCacheHits > cHits0 || eng.planCacheHits > pHits0,
      "identical clauses should hit the compile or plan LRU")
  }

  test("many mutations stay queryable (lineage truncation, no plan blow-up)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE m (id bigint PRIMARY KEY, t text, v bigint)")
    for (i <- 0 until 40) {
      sess.execute(s"INSERT INTO m (id, t, v) VALUES ($i, 'token$i data', $i)")
      if (i % 5 == 4) sess.execute(s"UPDATE m SET v = ${i * 10} WHERE id = ${i - 1}")
      if (i % 7 == 6) sess.execute(s"DELETE FROM m WHERE id = ${i - 3}")
    }
    val n = sess.execute("SELECT id FROM m").count()
    assert(n > 0 && n < 40) // deletes happened, rest live
    assert(sess.execute("SELECT id FROM m WHERE fts(t, 'data')").count() === n)
  }

  test("default LIMIT is 1000 (query.rs:15-17)") {
    val sess = new LnxSession(spark)
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    sess.register("documents", docs, Seq("doc_id"), Seq("text"))
    val n = sess.execute("SELECT doc_id FROM documents WHERE fts(text, 'the')").count()
    val expected = math.min(1000L,
      sess.execute("SELECT doc_id FROM documents WHERE fts(text, 'the') LIMIT 100000").count())
    assert(n === expected)
  }

  test("DELETE/UPDATE accept search predicates in WHERE (one grammar, apis/mod.rs:141-152)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE dq (id bigint PRIMARY KEY, title text, rating float)")
    sess.execute("INSERT INTO dq (id, title, rating) VALUES " +
      "(1, 'alpha binary search', 1.0), (2, 'beta cooking pasta', 2.0), " +
      "(3, 'gamma search engine', 5.0), (4, 'delta sorting lists', 3.0)")
    // update-by-query: only fts matches that ALSO pass the column
    // predicate change; non-matches keep their values
    sess.execute("UPDATE dq SET rating = 9.0 WHERE fts(title, 'search') AND rating < 2.0")
    val after = sess.execute("SELECT id, rating FROM dq ORDER BY id LIMIT 10").collect()
    assert(after.map(r => r.getLong(0) -> r.getFloat(1)).toMap ===
      Map(1L -> 9.0f, 2L -> 2.0f, 3L -> 5.0f, 4L -> 3.0f))
    // schema layout survives the search-path join (declared order)
    assert(sess.execute("SELECT id FROM dq LIMIT 1").columns === Seq("id"))
    // delete-by-query removes the full match set (no LIMIT cap)
    sess.execute("DELETE FROM dq WHERE fts(title, 'search')")
    assert(sess.execute("SELECT id FROM dq").collect().map(_.getLong(0)).toSet === Set(2L, 4L))
    // threshold form: fuzzy score below the bar deletes nothing
    sess.execute("DELETE FROM dq WHERE fuzzy(title, 'cookin') > 99.0")
    assert(sess.execute("SELECT id FROM dq").count() === 2)
    // score() without a search clause fails loudly (mirrors SELECT)
    intercept[ParseException](sess.execute("DELETE FROM dq WHERE score() > 0.5"))
    intercept[ParseException](sess.execute("UPDATE dq SET rating = 0.0 WHERE score() > 0.5"))
    // the mutated table still serves search (engine rebuilt post-mutation)
    assert(sess.execute("SELECT id FROM dq WHERE fts(title, 'cooking')")
      .collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("update-by-query matches against the PRE-update state when SET rewrites the searched column") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE dq2 (id bigint PRIMARY KEY, title text)")
    sess.execute("INSERT INTO dq2 (id, title) VALUES " +
      "(1, 'alpha search'), (2, 'beta cooking'), (3, 'gamma search'), (4, 'delta lists')")
    // SET rewrites the very column the WHERE searches: matching must
    // run once against the pre-update index, never re-tokenize
    // mid-statement (the materialize-WHERE-once rule lifted to search)
    sess.execute("UPDATE dq2 SET title = 'redacted' WHERE fts(title, 'search')")
    val rows = sess.execute("SELECT id, title FROM dq2 ORDER BY id LIMIT 10").collect()
    assert(rows.map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "redacted", 2L -> "beta cooking", 3L -> "redacted", 4L -> "delta lists"))
    // post-update index reflects the rewrite
    assert(sess.execute("SELECT id FROM dq2 WHERE fts(title, 'search')").count() === 0L)
    assert(sess.execute("SELECT id FROM dq2 WHERE fts(title, 'redacted')")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("search-predicate mutations on an ATTACHED store are fenced (scale mode)") {
    val dir = java.nio.file.Files.createTempDirectory("graftattach").toString
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE src (id bigint PRIMARY KEY, t text)")
    sess.execute("INSERT INTO src (id, t) VALUES (1, 'alpha data'), (2, 'beta data')")
    sess.persist("src", dir)
    sess.attach("srcAtt", dir)
    // a search mutation would localCheckpoint (materialize) the whole
    // doc store the attach contract keeps on parquet — fail loudly and
    // point at the durable store-level op
    val ex = intercept[ParseException](
      sess.execute("DELETE FROM srcAtt WHERE fts(t, 'alpha')"))
    assert(ex.getMessage.contains("deleteByQuery"))
    // column-predicate mutations keep their existing in-session behavior
    sess.execute("DELETE FROM srcAtt WHERE id = 2")
    assert(sess.execute("SELECT id FROM srcAtt").count() === 1L)
  }

  test("fuzz: execute is total — semantic errors are ParseException, valid plans run (seeded)") {
    // end-to-end dialect fuzz: statements assembled from plausible
    // fragments (real AND unknown columns, wrong-type literals, broken
    // ip/date strings, arity mismatches, search funcs on non-text
    // columns). Contract: execute() either succeeds or throws
    // ParseException — never an NPE, MatchError, Spark AnalysisException
    // (the dialect validates columns itself), or NumberFormatException.
    // SELECT results are collected, so lazily-planned paths execute too.
    val sess = new LnxSession(spark)
    sess.execute(
      "CREATE TABLE fz (id bigint PRIMARY KEY, name text, n uint32, addr ip, " +
        "tags text[], ts datetime)")
    sess.execute("INSERT INTO fz (id, name, n, addr, tags, ts) VALUES " +
      "(1, 'alpha beta', 7, '10.0.0.1', ARRAY['x','y'], '2024-01-02 03:04:05')")
    val rnd = new scala.util.Random(0xE8ECL)
    val cols = Array("id", "name", "n", "addr", "tags", "ts", "bogus", "score")
    val lits = Array("1", "-1", "99999999999", "18446744073709551999", "1.5",
      "'alpha'", "'10.0.0.1'", "'999.0.0.1'", "'2024-01-02 03:04:05'",
      "'not-a-date'", "ARRAY['x']", "ARRAY[]", "$1", "''")
    val ops = Array("=", ">", "<", ">=", "<=", "<>")
    def col() = cols(rnd.nextInt(cols.length))
    def lit() = lits(rnd.nextInt(lits.length))
    def pred(): String = rnd.nextInt(5) match {
      case 0 => s"${col()} ${ops(rnd.nextInt(ops.length))} ${lit()}"
      case 1 => s"fts(${col()}, ${lit()})"
      case 2 => s"fuzzy(${col()}, 'alhpa')"
      case 3 => s"${pred()} AND ${pred()}"
      case _ => s"levenshtein(${col()}, 'beta')"
    }
    def stmt(): String = rnd.nextInt(5) match {
      case 0 =>
        val proj = if (rnd.nextBoolean()) "*" else
          Seq.fill(1 + rnd.nextInt(3))(if (rnd.nextInt(5) == 0) "score()" else col()).mkString(", ")
        s"SELECT $proj FROM fz WHERE ${pred()}" +
          (if (rnd.nextBoolean()) s" LIMIT ${rnd.nextInt(4)}" else "")
      case 1 =>
        val cs = Seq.fill(1 + rnd.nextInt(4))(col()).distinct
        s"INSERT INTO fz (${cs.mkString(", ")}) VALUES " +
          s"(${Seq.fill(cs.length + rnd.nextInt(2))(lit()).mkString(", ")})"
      case 2 => s"UPDATE fz SET ${col()} = ${lit()} WHERE ${pred()}"
      case 3 => s"DELETE FROM fz WHERE ${pred()}"
      case _ => s"SELECT * FROM ${if (rnd.nextBoolean()) "fz" else "nosuch"} WHERE ${pred()}"
    }
    var ran = 0
    for (i <- 1 to 400) {
      val q = stmt()
      try { sess.execute(q).collect(); ran += 1 }
      catch {
        case _: ParseException => ()
        case e: Throwable =>
          fail(s"case $i <$q> threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(ran > 20, s"degenerate fuzz: only $ran/400 executed") // both outcomes exercised
  }

  test("datetime accepts integer epoch-seconds literals (apis/mod.rs:178-179)") {
    // the reference's datetime IS a UNIX-epoch value; '2024-01-02
    // 03:04:05' UTC == 1704164645, independent of the JVM zone
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ep (id bigint PRIMARY KEY, ts datetime)")
    sess.execute("INSERT INTO ep (id, ts) VALUES (1, '2024-01-02 03:04:05'), (2, 1704164645)")
    assert(sess.execute("SELECT id FROM ep WHERE ts = 1704164645")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(sess.execute("SELECT id FROM ep WHERE ts > 1704164644 AND ts < 1704164646")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // out-of-range epoch is a ParseException, not a DateTimeException leak
    intercept[ParseException](
      sess.execute("SELECT id FROM ep WHERE ts = 99999999999999999"))
    // mismatched literal kinds are rejected, not passed through to Spark
    intercept[ParseException](sess.execute("SELECT id FROM ep WHERE ts = 1.5"))
    intercept[ParseException](sess.execute("SELECT id FROM ep WHERE id = 'abc'"))
  }

  test("temporal literal overflow windows are ParseException, never silent wrap") {
    // java.sql.Timestamp.from / Date.valueOf(LocalDate) do NOT throw on
    // millis overflow — they wrap to garbage values. Every window in
    // which the java.time parse succeeds but the java.sql conversion
    // (or Spark's micros representation) would wrap must be caught.
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ov (id bigint PRIMARY KEY, ts datetime, d date)")
    // 1e16 epoch seconds: inside Instant range, outside micros-safe Long
    intercept[ParseException](
      sess.execute("SELECT id FROM ov WHERE ts = 10000000000000000"))
    // epoch days between int32 and LocalDate.MAX: ofEpochDay succeeds,
    // java.sql.Date would wrap through its millis constructor
    intercept[ParseException](
      sess.execute("INSERT INTO ov (id, d) VALUES (1, 365241780471)"))
    // string timestamp with an ISO extended year: LocalDateTime.parse
    // accepts it, Timestamp.from would wrap
    intercept[ParseException](
      sess.execute("SELECT id FROM ov WHERE ts = '+999999999-12-31 00:00:00'"))
    // 9-digit-year date string: Date.valueOf accepts and wraps — the
    // strict yyyy-mm-dd shape check rejects it first
    intercept[ParseException](
      sess.execute("SELECT id FROM ov WHERE d = '999999999-12-31'"))
    // the plain in-range forms still work
    sess.execute("INSERT INTO ov (id, ts, d) VALUES (2, 1704164645, '2024-01-02')")
    assert(sess.execute("SELECT id FROM ov WHERE d = '2024-01-02'").count() === 1L)
  }

  test("statement-level semantic errors are ParseException, not IllegalArgumentException") {
    val sess = new LnxSession(spark)
    // CREATE without a primary key
    intercept[ParseException](sess.execute("CREATE TABLE nopk (a text)"))
    sess.execute("CREATE TABLE sem (id bigint PRIMARY KEY, a text, b text, f facet)")
    sess.execute("INSERT INTO sem (id, a, b, f) VALUES (1, 'x y', 'y z', '/t/u')")
    // per-clause threshold on a multi-clause WHERE
    intercept[ParseException](sess.execute(
      "SELECT id FROM sem WHERE fts(a, 'x') > 0.5 AND fts(b, 'y')"))
    // facet_counts shape violations
    intercept[ParseException](sess.execute("SELECT facet_counts(f), id FROM sem"))
    intercept[ParseException](sess.execute(
      "SELECT facet_counts(f) FROM sem WHERE fts(a, 'x') > 0.5"))
  }

  test("fractional numeric literals on integer columns are rejected, not truncated") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE fr (id bigint PRIMARY KEY, n uint32)")
    sess.execute("INSERT INTO fr (id, n) VALUES (1, 2)")
    // WHERE id = 1.5 must NOT match the id=1 row via silent toLong
    intercept[ParseException](sess.execute("SELECT id FROM fr WHERE id = 1.5"))
    intercept[ParseException](sess.execute("INSERT INTO fr (id, n) VALUES (2, 2.5)"))
    // whole-valued numerics bind exactly
    assert(sess.execute("SELECT id FROM fr WHERE id = 1.0").count() === 1L)
  }

  test("register()-ed frames with non-lnx Spark column types still take predicates") {
    import spark.implicits._
    val sess = new LnxSession(spark)
    val df = Seq((1L, "alpha beta", 3.toShort, BigDecimal("4.25")),
      (2L, "gamma", 7.toShort, BigDecimal("9.50")))
      .toDF("doc_id", "text", "sh", "dec")
      .withColumn("sh", org.apache.spark.sql.functions.col("sh").cast("smallint"))
    sess.register("ext", df, Seq("doc_id"), Seq("text"))
    assert(sess.execute("SELECT doc_id FROM ext WHERE sh = 3")
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(sess.execute("SELECT doc_id FROM ext WHERE dec > 5.0")
      .collect().map(_.getLong(0)).toSet === Set(2L))
    // range checks still bite on the narrow types
    intercept[ParseException](sess.execute("SELECT doc_id FROM ext WHERE sh = 99999"))
  }

  test("type-mismatched DEFAULT fails at CREATE naming the column, not at first INSERT") {
    val sess = new LnxSession(spark)
    val e = intercept[ParseException](sess.execute(
      "CREATE TABLE bd (id bigint PRIMARY KEY, n uint32 DEFAULT 'oops')"))
    assert(e.msg.contains("n"), s"error must name the column: ${e.msg}")
    // a valid default still works end-to-end
    sess.execute("CREATE TABLE gd (id bigint PRIMARY KEY, n uint32 DEFAULT 7)")
    sess.execute("INSERT INTO gd (id) VALUES (1)")
    assert(sess.execute("SELECT n FROM gd").collect()(0).getLong(0) === 7L)
  }

  test("bytea PRIMARY KEY upserts by VALUE, not array identity") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE bk (k bytea PRIMARY KEY, v text)")
    // same-batch repeat: last write wins, ONE row survives (Array[Byte]
    // identity comparison kept both and broke the unique-PK invariant)
    sess.execute("INSERT INTO bk (k, v) VALUES ('a', 'x'), ('a', 'y')")
    val rows = sess.execute("SELECT v FROM bk").collect()
    assert(rows.length === 1, s"duplicate binary PK must collapse, got ${rows.length} rows")
    assert(rows(0).getString(0) === "y")
    // cross-statement upsert by value too
    sess.execute("INSERT INTO bk (k, v) VALUES ('a', 'z')")
    val rows2 = sess.execute("SELECT v FROM bk").collect()
    assert(rows2.length === 1 && rows2(0).getString(0) === "z")
  }

  test("ingest applies DEFAULTs like SQL INSERT (one meaning per document, any ingress)") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ind (id bigint PRIMARY KEY, status text DEFAULT 'new', n uint32 DEFAULT 7)")
    sess.ingest("ind", graft.sources.DocDecode.Json,
      """{"id": 1}""".getBytes("UTF-8"))
    val r = sess.execute("SELECT status, n FROM ind").collect()(0)
    assert(r.getString(0) === "new" && r.getLong(1) === 7L)
    // explicit wire null is NOT absent: it stores NULL, matching SQL
    // INSERT of an explicit NULL (presence-aware defaults) — on BOTH
    // wire formats, which each distinguish null from missing
    sess.ingest("ind", graft.sources.DocDecode.Json,
      """{"id": 2, "status": null}""".getBytes("UTF-8"))
    val r2 = sess.execute("SELECT status, n FROM ind WHERE id = 2").collect()(0)
    assert(r2.isNullAt(0), "explicit JSON null must store NULL, not the DEFAULT")
    assert(r2.getLong(1) === 7L, "absent column still takes the DEFAULT")
    sess.ingest("ind", graft.sources.DocDecode.Msgpack,
      graft.sources.MsgPack.encode(Map("id" -> 3L, "status" -> null)))
    val r3 = sess.execute("SELECT status, n FROM ind WHERE id = 3").collect()(0)
    assert(r3.isNullAt(0) && r3.getLong(1) === 7L,
      "msgpack nil/absent must agree with the JSON path")
  }

  test("register validates key/field columns up front") {
    import spark.implicits._
    val sess = new LnxSession(spark)
    val df = Seq((1L, "t")).toDF("doc_id", "text")
    // empty keyCols: the upsert anti-join would silently REPLACE the
    // whole table with each batch
    intercept[ParseException](sess.register("r0", df, Seq.empty, Seq("text")))
    intercept[ParseException](sess.register("r1", df, Seq("nope"), Seq("text")))
    intercept[ParseException](sess.register("r2", df, Seq("doc_id"), Seq("nope")))
  }

  test("duplicate column names are ParseException at the statement, not analysis blowups later") {
    val sess = new LnxSession(spark)
    intercept[ParseException](sess.execute(
      "CREATE TABLE dup (id bigint PRIMARY KEY, a text, a text)"))
    sess.execute("CREATE TABLE dup2 (id bigint PRIMARY KEY, v text)")
    // repeated INSERT column: toMap last-wins would silently drop 'a'
    intercept[ParseException](sess.execute(
      "INSERT INTO dup2 (id, v, v) VALUES (1, 'a', 'b')"))
  }

  test("ORDER BY: unknown column is ParseException; bare 'score' projects the ranking signal") {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE ob (id bigint PRIMARY KEY, t text)")
    sess.execute("INSERT INTO ob (id, t) VALUES (1, 'alpha beta'), (2, 'alpha gamma')")
    intercept[ParseException](sess.execute("SELECT id FROM ob ORDER BY nosuch"))
    // bare `score` (no parens) = the ranking signal, same as ORDER BY
    val r = sess.execute("SELECT id, score FROM ob WHERE fts(t, 'alpha') ORDER BY score DESC")
      .collect()
    assert(r.length === 2)
    assert(!r(0).isNullAt(1), "bare 'score' must project the real score, not NULL")
    assert(r(0).getFloat(1) > 0.0f)
  }
}
