package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{BuiltIndex, IndexBuilder, IndexConfig}
import graft.query._
import LnxSql._

/** Executable session for the lnx SQL dialect: CREATE TABLE registers a
  * schema + per-column tokenizer config; INSERT is always UPSERT by
  * primary key (apis/mod.rs:81-82); SELECT compiles the search functions
  * onto the inverted-index engine. Mutations invalidate the table's
  * index, which is rebuilt lazily on the next query — the incremental
  * path for large tables is IndexStore.appendEpoch; this session is the
  * small-table REST-API analogue.
  */
final class LnxSession(val spark: SparkSession) {

  final case class TableState(
      var rows: DataFrame,
      config: IndexConfig,
      columns: Seq[ColumnDef],
      var engine: Option[QueryEngine],
      var mutations: Int = 0,
      /** bound via attach(): rows stream from a persisted store in
        * scale mode (docs NOT cached) — search-predicate mutations,
        * which materialize the table, are fenced for these. */
      attached: Boolean = false)

  /** Every mutation wraps `rows` in more plan (anti-join + union /
    * conditional projections); a long-lived session would grow an
    * unboundedly deep lineage and eventually blow analysis. Truncate it
    * periodically with a checkpoint (the API-session analogue of the
    * store path's segment writes).
    */
  private final val LineageTruncateEvery = 16

  private def noteMutation(t: TableState): Unit = {
    // release the stale engine's cached frames BEFORE dropping the
    // reference: the CacheManager pins persisted datasets strongly, so
    // a mutate-then-query loop would otherwise accumulate one cached
    // index copy per rebuild until executors spill/evict
    t.engine.foreach(_.release())
    t.engine = None
    t.mutations += 1
    // attached tables stream a persisted store's doc parquet in scale
    // mode: an eager checkpoint here would materialize the whole corpus
    // in-session — the same failure the search-mutation fence guards.
    // Their lineage grows instead (col-pred mutations add one filter/
    // projection each); heavy-churn workflows belong on the store ops.
    if (t.mutations % LineageTruncateEvery == 0 && !t.attached)
      t.rows = t.rows.localCheckpoint()
  }

  private val tables = scala.collection.concurrent.TrieMap.empty[String, TableState]

  /** Bind `name` -> `ts`, releasing any replaced table's engine first:
    * the CacheManager pins persisted index frames strongly (see
    * noteMutation), so re-attach/re-register over an existing name
    * would otherwise permanently leak one full cached index per call.
    */
  private def putTable(name: String, ts: TableState): Unit = {
    tables.remove(name).foreach(_.engine.foreach(_.release()))
    tables.put(name, ts)
  }

  /** lnx type -> Spark type (SURVEY.md section 1.2 table). Unsigned
    * types narrow to LongType: uint32 fits losslessly; uint64 values
    * above Long.MaxValue are REJECTED at insert (checkRange) rather
    * than silently wrapped — Spark has no unsigned 64-bit type
    * (apis/mod.rs:168-169).
    */
  def sparkType(t: String): DataType = t match {
    case "text" | "string" | "ip" | "facet" => StringType
    case "bigint" | "int64" | "uint64" | "uint32" => LongType
    case "integer" | "int32" => IntegerType
    case "float64" | "double" => DoubleType
    case "float32" | "float" => FloatType
    case "bytes" | "bytea" => BinaryType
    case "datetime" | "timestamp" => TimestampType
    case "date" => DateType
    case "bool" | "boolean" => BooleanType
    case other => throw ParseException(s"unsupported type $other", -1)
  }

  /** Canonical IP storage form: lnx stores IPv4/IPv6 in one canonical
    * 16-byte value (apis/mod.rs:176) so range predicates order
    * NUMERICALLY. The stored text is the fixed-width 32-char lowercase
    * hex of that 16-byte value (IPv4 mapped to ::ffff:a.b.c.d), whose
    * lexicographic order equals the numeric byte order — a plain-text
    * canonicalization ('10.0.0.1') sorted lexicographically and put
    * '10.0.0.1' BEFORE '9.0.0.1' (the r03-flagged silent wrong-order).
    * '::1' and '0:0:0:0:0:0:0:1' still canonicalize equal; SELECT
    * projections render back to display text via ipDisplay. The
    * literal-characters guard prevents InetAddress hostname lookups.
    */
  def canonIp(s: String): String = {
    // literal-only guard: a ':' can never appear in a hostname, so
    // getByName parses IPv6-shaped input without DNS; for IPv4 we
    // validate the dotted quad OURSELVES (e.g. '999.0.0.1' or
    // 'deadbeef' would otherwise fall back to a blocking DNS lookup)
    val isLiteral = s.contains(":") ||
      (s.matches("""\d{1,3}(\.\d{1,3}){3}""") && s.split('.').forall(_.toInt <= 255))
    if (!isLiteral) throw ParseException(s"not an IP literal: $s", -1)
    val bytes =
      try java.net.InetAddress.getByName(s).getAddress
      catch {
        case _: java.net.UnknownHostException =>
          throw ParseException(s"not an IP literal: $s", -1)
      }
    val b16 =
      if (bytes.length == 4) // IPv4 -> IPv4-mapped IPv6 (::ffff:a.b.c.d)
        Array.fill[Byte](10)(0) ++ Array[Byte](-1, -1) ++ bytes
      else bytes
    b16.map(b => f"${b & 0xff}%02x").mkString
  }

  private final val V4MappedPrefix = "00000000000000000000ffff"

  /** Render the stored 32-hex canonical form back to display text:
    * IPv4-mapped values as the dotted quad, anything else as the
    * 8-group leading-zero-trimmed IPv6 form (InetAddress
    * getHostAddress style — '::1' displays as '0:0:0:0:0:0:0:1').
    * Pure codegen'd string/conv arithmetic, no UDF.
    */
  def ipDisplay(c: Column): Column = {
    val quad = concat_ws(".", (0 until 4).map(i =>
      conv(substring(c, 25 + 2 * i, 2), 16, 10)): _*)
    val groups = (0 until 8).map(i => lower(conv(substring(c, 4 * i + 1, 4), 16, 16)))
    when(c.isNull, lit(null).cast(StringType))
      .when(c.startsWith(V4MappedPrefix), quad)
      .otherwise(concat_ws(":", groups: _*))
  }

  /** Per-lnx-type value normalization + range checks at the insert /
    * predicate boundary.
    */
  private def normalize(tpe: String, v: Any): Any = v match {
    case null => null
    case s: String if tpe == "ip" => canonIp(s)
    case l: Long if tpe == "uint64" =>
      // integer literals are Long-backed end-to-end (ILit), so values
      // up to 2^63-1 arrive exact and this boundary actually bites;
      // the storable range is [0, Long.MaxValue] (no unsigned 64-bit
      // Spark type; larger literals are rejected at parse)
      if (l < 0) throw ParseException(s"uint64 out of range: $l", -1) else l
    case l: Long if tpe == "uint32" =>
      if (l < 0 || l > 0xFFFFFFFFL) throw ParseException(s"uint32 out of range: $l", -1) else l
    case seq: Seq[_] => seq.map(normalize(tpe, _))
    case other => other
  }

  /** LRU of parsed statements keyed on SQL text — the session-side
    * analogue of the reference caching 'different parts of the query'
    * across requests (apis/mod.rs:68-69). Parameters stay out of the
    * key: $n binding happens at run time, so one cached plan serves
    * every binding.
    */
  private val parseCache =
    new java.util.LinkedHashMap[String, Seq[Statement]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[Statement]]): Boolean = size() > 256
    }

  /** Observability: how many executes were served from the parse LRU. */
  @volatile var parseCacheHits: Long = 0L

  def execute(sql: String, params: Seq[Lit] = Nil): DataFrame = {
    val stmts = parseCache.synchronized {
      val hit = parseCache.get(sql)
      if (hit != null) { parseCacheHits += 1; hit }
      else { val p = LnxSql.parse(sql); parseCache.put(sql, p); p }
    }
    stmts.map(run(_, params)).last
  }

  def table(name: String): TableState =
    tables.getOrElse(name, throw ParseException(s"unknown table $name", -1))

  /** Attach a persisted IndexStore index as a queryable table — the
    * SCALE entry point: stored fields stream from the docId-sorted
    * segment parquet (docs NOT cached), only postings/termstats pin
    * memory, and no per-session rebuild happens. The store keeps its
    * segments' partitioning (one search partition per file pair,
    * IndexStore.load), so a capped search statement on it scores and
    * fetches in one job like an in-memory table's (`cappedFetch`), and
    * the first statement builds the shard tables inside that job, with
    * no shuffle. Ingest for attached tables goes through
    * IndexStore.appendEpoch + re-attach; a mutation through this
    * session falls back to the in-memory path on a session-local copy
    * (the store itself is never modified).
    *
    * @param atVersion 0 = the committed LATEST; a positive version pins
    *   the attached table to that manifest snapshot (time travel over
    *   the versioned metastore) — pair with `IndexStore.gc(retention)`
    *   so the pinned version's files survive later compactions. Column
    *   defs restore from the PINNED version's config KV, so even a
    *   since-changed schema reads with its own types.
    */
  def attach(name: String, dir: String, atVersion: Int = 0): Unit = {
    // resolve LATEST once: the index and its column defs must come from
    // the same manifest version even if a writer commits in between
    val v = if (atVersion > 0) atVersion else graft.index.IndexStore.currentVersion(dir)
    val idx = graft.index.IndexStore.load(spark, dir, cacheDocs = false, atVersion = v)
    // lnx logical types (ip, facet, unsigned ranges) are NOT derivable
    // from the Spark schema — an ip column reads back as plain
    // "string", so predicates would skip canonicalization and compare
    // dotted quads against stored 32-hex, silently matching nothing.
    // Stores written by persist() carry the session ColumnDefs in the
    // config KV; restore them, falling back to schema-derived defs for
    // stores created outside a session (their columns had no lnx types).
    val defs = graft.index.IndexStore.configKv(spark, dir, v).get(ColumnsKvKey) match {
      case Some(enc) => decodeDefs(enc, idx.config.keyCols)
      case None => idx.docs.schema.fields.filterNot(_.name == "docId").toSeq.map(f =>
        ColumnDef(f.name, f.dataType.simpleString, idx.config.keyCols.contains(f.name),
          notNull = false, default = None, isArray = false))
    }
    putTable(name,
      TableState(idx.docs.drop("docId"), idx.config, defs, Some(new QueryEngine(idx)),
        attached = true))
  }

  /** Persist a session table as an IndexStore segment dir, carrying the
    * lnx column types in the store's config KV so a later attach()
    * (this session or another) restores full logical-type semantics.
    * DEFAULT literals are not round-tripped (they are a session-DDL
    * convenience; attached-table inserts treat missing columns as NULL).
    */
  def persist(tableName: String, dir: String, snapshotId: String = "epoch-0"): Unit = {
    val t = table(tableName)
    graft.index.IndexStore.create(t.rows, t.config, dir, snapshotId).unpersist()
    graft.index.IndexStore.updateConfig(spark, dir,
      set = Map(ColumnsKvKey -> encodeDefs(t.columns)))
  }

  /** Reserved store-KV key for the serialized session ColumnDefs. */
  private final val ColumnsKvKey = "lnx.columns"

  // ASCII unit (\u001F) / record (\u001E) separators can't appear in
  // SQL identifiers or type names, so the encoding needs no escaping
  private final val FieldSep = '\u001F'
  private final val ColSep = '\u001E'

  private def encodeDefs(defs: Seq[ColumnDef]): String =
    defs.map(d => Seq(d.name, d.tpe, d.notNull.toString, d.isArray.toString)
      .mkString(FieldSep.toString)).mkString(ColSep.toString)

  private def decodeDefs(s: String, keyCols: Seq[String]): Seq[ColumnDef] =
    s.split(ColSep).toSeq.filter(_.nonEmpty).map { c =>
      val f = c.split(FieldSep)
      ColumnDef(f(0), f(1), keyCols.contains(f(0)), f(2).toBoolean,
        default = None, isArray = f(3).toBoolean)
    }

  /** Register an existing DataFrame as an lnx table. */
  def register(name: String, df: DataFrame, keyCols: Seq[String], fields: Seq[String],
      shardDocs: Int = 4096): Unit = {
    // same reservation CREATE TABLE enforces: non-search SELECTs inject
    // a synthetic score column, which would silently clobber a stored
    // one, and search SELECTs' docs-join would produce a duplicate
    if (df.columns.exists(_.equalsIgnoreCase("score")))
      throw ParseException("column name 'score' is reserved for score()", -1)
    // the same PK contract runCreate enforces: with EMPTY keyCols the
    // INSERT upsert anti-join has no condition — every existing row
    // "matches" and the whole table is silently replaced by the batch;
    // a key/field absent from df would die later with an opaque
    // AnalysisException instead of failing here
    if (keyCols.isEmpty)
      throw ParseException(s"register($name) needs at least one key column", -1)
    (keyCols ++ fields).find(c => !df.columns.contains(c)).foreach(c =>
      throw ParseException(s"register($name): column $c is not in the DataFrame", -1))
    val defs = df.schema.fields.map(f =>
      ColumnDef(f.name, f.dataType.simpleString, keyCols.contains(f.name), false, None, false))
    putTable(name, TableState(df,
      IndexConfig(keyCols, fields, shardDocs,
        spark.conf.get("spark.sql.shuffle.partitions", "8").toInt), defs.toSeq, None))
  }

  private def run(st: Statement, params: Seq[Lit]): DataFrame = st match {
    case ct: CreateTable => runCreate(ct)
    case in: Insert => runInsert(in, params)
    case d: Delete => runDelete(d, params)
    case u: Update => runUpdate(u, params)
    case s: Select => runSelect(s, params)
    case Explain(inner) => runExplain(inner, params)
  }

  /** EXPLAIN surface: the compiled search clauses plus Spark's formatted
    * physical plan, one line per row (query.rs:36-43). Nothing runs: a
    * capped search is shown as the lazy frame over its shard candidates
    * (QueryEngine.searchF32Planned), which the statement itself scores
    * in one job, and a statement on the fetch path (cappedFetch) adds
    * one line naming the stored-field fetch: read inside the scoring
    * job's tasks under QueryEngine.fetchesInScoringJob, else a second
    * job.
    */
  private def runExplain(st: Statement, params: Seq[Lit]): DataFrame = {
    import spark.implicits._
    def formatted(df: DataFrame): Seq[String] = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).split('\n').toSeq
    st match {
      case s: Select =>
        val clauses = s.where.collect { case sp: SearchPred => sp }
          .map(sp => s"search clause: ${sp.func}(${sp.col}, ...)" +
            sp.cmp.map { case (op, v) => s" $op $v" }.getOrElse(""))
        val plan = cappedFetch(s, params) match {
          case Some(f) =>
            val cols = s"docId${f.docCols.map(", " + _).mkString}"
            val nParts = f.e.index.docRanges.get.length
            formatted(f.e.searchF32Planned(f.clauses, f.limit)) :+ (
              if (f.e.fetchesInScoringJob(f.limit))
                s"stored-field fetch: $cols of each docs partition's top ${f.limit}, read by" +
                  s" that partition's scoring task in the same job (range table: $nParts partitions)"
              else
                s"stored-field fetch: $cols of the top ${f.limit} in a second job, from only the" +
                  s" docs partitions holding a hit (range table: $nParts partitions)")
          case None => formatted(runSelect(s, params, planOnly = true))
        }
        (clauses ++ plan).toDF("plan")
      case other =>
        Seq(other.toString).toDF("plan")
    }
  }

  private def status(msg: String): DataFrame = {
    import spark.implicits._
    Seq(msg).toDF("status")
  }

  private def runCreate(ct: CreateTable): DataFrame = {
    if (tables.contains(ct.table)) {
      if (ct.ifNotExists) return status(s"table ${ct.table} exists")
      throw ParseException(s"table ${ct.table} already exists", -1)
    }
    // duplicate column names would build a StructType whose first use
    // dies with AMBIGUOUS_REFERENCE deep in analysis — fail at DDL time
    ct.columns.map(_.name).diff(ct.columns.map(_.name).distinct).headOption.foreach(c =>
      throw ParseException(s"duplicate column $c in CREATE TABLE ${ct.table}", -1))
    val schema = StructType(ct.columns.map { c =>
      val base = sparkType(c.tpe)
      StructField(c.name, if (c.isArray) ArrayType(base) else base, nullable = !c.primaryKey)
    })
    val pk = ct.columns.filter(_.primaryKey).map(_.name)
    if (pk.isEmpty) // ParseException, not require: the dialect's error
      // contract is ParseException for every bad statement
      throw ParseException("a primary key column is required", -1)
    // `score` is the score() projection's result column; a stored column
    // of that name would be silently clobbered by the synthetic score of
    // non-search SELECTs — reserve it at CREATE rather than corrupt later
    // case-insensitive: Spark's default resolution is case-insensitive,
    // so a column named SCORE collides with the projection all the same
    if (ct.columns.exists(_.name.equalsIgnoreCase("score")))
      throw ParseException("column name 'score' is reserved for score()", -1)
    // every scalar text column is indexed — including `raw`-tokenized
    // ones, which index the value as a single un-analyzed token so
    // fts(rawCol, 'exact value') exact-matches (apis/mod.rs:211-213,
    // parse shape sql.rs:110). Tokenizer names must be registered and
    // must target text columns; unknown names are an error, not a
    // silent fallback.
    val fields = ct.columns
      .filter(c => Set("text", "string").contains(c.tpe) && !c.isArray)
      .map(_.name)
    ct.tokenizers.foreach { case (colName, tokName) =>
      if (!fields.contains(colName))
        throw ParseException(s"tokenizer declared for non-text column $colName", -1)
      if (!graft.analyze.Tokenizers.isKnown(tokName))
        throw ParseException(s"unknown tokenizer '$tokName' for column $colName", -1)
    }
    // a type-mismatched DEFAULT must fail HERE, naming its column — not
    // on the first (possibly unrelated) INSERT via the eager defaults map
    ct.columns.foreach(c => c.default.foreach { d =>
      val ft = if (c.isArray) ArrayType(sparkType(c.tpe)) else sparkType(c.tpe)
      try { litValue(d, ft); () }
      catch {
        case e: ParseException =>
          throw ParseException(s"DEFAULT for column ${c.name}: ${e.msg}", -1)
      }
    })
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    putTable(ct.table, TableState(empty,
      IndexConfig(pk, fields, 4096,
        spark.conf.get("spark.sql.shuffle.partitions", "8").toInt,
        tokenizers = ct.tokenizers),
      ct.columns, None))
    status(s"created ${ct.table}")
  }

  /** Spark timestamps are micros-since-epoch in a Long and java.sql
    * types convert through millis; `Timestamp.from` does NOT throw on
    * millis overflow — it silently wraps (so would Spark's
    * millis→micros step). Bound epoch seconds to the micros-safe
    * window so neither conversion can wrap.
    */
  private val MaxEpochSecond = Long.MaxValue / 1000000L

  private def toSqlTimestamp(epochSec: Long, nanos: Int, what: => String): java.sql.Timestamp = {
    if (epochSec < -MaxEpochSecond || epochSec > MaxEpochSecond)
      throw ParseException(s"$what out of timestamp range: $epochSec", -1)
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochSec, nanos.toLong))
  }

  private def litValue(l: Lit, dt: DataType): Any = l match {
    case SLit(s) => dt match {
      case StringType => s
      case BinaryType => s.getBytes("UTF-8")
      case TimestampType =>
        // datetime is a UNIX-epoch value in the reference
        // (apis/mod.rs:178-179): parse the literal as UTC wall-clock so
        // the stored instant is independent of the JVM default timezone
        // (Timestamp.valueOf would shift it by the driver's zone)
        val inst =
          try java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC)
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw ParseException(s"not a timestamp literal: $s", -1)
          }
        toSqlTimestamp(inst.getEpochSecond, inst.getNano, s"timestamp literal '$s'")
      case DateType =>
        // strict yyyy-mm-dd: Date.valueOf accepts 9-digit years and
        // silently wraps through its millis constructor; a 4-digit
        // year cannot overflow anything
        val ds = s.trim
        if (!ds.matches("""\d{4}-\d{2}-\d{2}"""))
          throw ParseException(s"malformed date literal '$s' (expected yyyy-mm-dd)", -1)
        try java.sql.Date.valueOf(ds)
        catch {
          case _: IllegalArgumentException =>
            throw ParseException(s"malformed date literal '$s' (expected yyyy-mm-dd)", -1)
        }
      case other => throw ParseException(s"string literal for $other column", -1)
    }
    case ILit(v) => dt match {
      case LongType => v // exact: no double round-trip for 64-bit values
      case IntegerType =>
        if (v < Int.MinValue || v > Int.MaxValue)
          throw ParseException(s"integer out of int32 range: $v", -1)
        v.toInt
      // registered/attached DataFrames (register(), parquet attach) may
      // carry Spark types outside the lnx DDL set — bind those too
      // rather than rejecting previously-working predicates on them
      case ShortType =>
        if (v < Short.MinValue || v > Short.MaxValue)
          throw ParseException(s"integer out of int16 range: $v", -1)
        v.toShort
      case ByteType =>
        if (v < Byte.MinValue || v > Byte.MaxValue)
          throw ParseException(s"integer out of int8 range: $v", -1)
        v.toByte
      case _: DecimalType => BigDecimal(v)
      case FloatType => v.toFloat
      case DoubleType => v.toDouble
      case TimestampType =>
        // datetime IS a UNIX-epoch value in the reference
        // (apis/mod.rs:178-179): an integer literal is epoch seconds
        toSqlTimestamp(v, 0, "epoch seconds")
      case DateType =>
        // Spark DateType is int32 days-since-epoch; java.sql.Date
        // converts through millis — the int32 window keeps both safe
        // (LocalDate.ofEpochDay accepts days that java.sql.Date wraps)
        if (v < Int.MinValue || v > Int.MaxValue)
          throw ParseException(s"epoch days out of date range: $v", -1)
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v))
      case other => throw ParseException(s"integer literal for $other column", -1)
    }
    case NLit(v) => dt match {
      // integer columns take a numeric literal only when it is EXACT:
      // `id = 1.5` silently truncating to `id = 1` both diverges from
      // SQL comparison semantics and stores corrupted values on INSERT
      case LongType =>
        val bd = BigDecimal(v)
        if (!bd.isValidLong)
          throw ParseException(s"numeric literal $v is not an exact int64", -1)
        bd.toLongExact
      case IntegerType =>
        val bd = BigDecimal(v)
        if (!bd.isValidInt)
          throw ParseException(s"numeric literal $v is not an exact int32", -1)
        bd.toIntExact
      case ShortType =>
        val bd = BigDecimal(v)
        if (!bd.isValidShort)
          throw ParseException(s"numeric literal $v is not an exact int16", -1)
        bd.toShortExact
      case ByteType =>
        val bd = BigDecimal(v)
        if (!bd.isValidByte)
          throw ParseException(s"numeric literal $v is not an exact int8", -1)
        bd.toByteExact
      case _: DecimalType => BigDecimal(v)
      case FloatType => v.toFloat
      case DoubleType => v
      case other => throw ParseException(s"numeric literal for $other column", -1)
    }
    case BLit(b) => dt match {
      case BooleanType => b
      case other => throw ParseException(s"boolean literal for $other column", -1)
    }
    case NullLit => null
    case ALit(items) => dt match {
      case ArrayType(et, _) => items.map(i => litValue(i, et))
      case other => throw ParseException(s"array literal for non-array type $other", -1)
    }
    case p: Param => throw ParseException("unbound parameter", -1)
  }

  /** Columns that must never hold null: declared NOT NULL, plus primary
    * keys (implicitly NOT NULL "to be consistent with the SQL syntax",
    * apis/mod.rs:110-112). Beyond reference fidelity, a null PK would
    * silently break UPSERT itself — null join keys never match the
    * anti-join, so repeated null-PK inserts would ACCUMULATE rows — and
    * with it the unique-key docId-determinism invariant.
    */
  private def requiredCols(t: TableState): Set[String] =
    t.columns.filter(c => c.primaryKey || c.notNull).map(_.name).toSet

  private def checkNotNull(required: Set[String], name: String, v: Any): Any = {
    if (v == null && required(name))
      throw ParseException(s"column $name is NOT NULL ('strictly forbid a field value " +
        s"being null', apis/mod.rs:112) and has no default", -1)
    v
  }

  private def runInsert(in: Insert, params: Seq[Lit]): DataFrame = {
    val t = table(in.table)
    val schema = t.rows.schema
    val byName = schema.fields.map(f => f.name -> f).toMap
    val defaults: Map[String, Any] = t.columns.flatMap(c =>
      c.default.map(d => c.name -> litValue(d, byName(c.name).dataType))).toMap
    val tpeByName = t.columns.map(c => c.name -> c.tpe).toMap
    val required = requiredCols(t)
    // a misspelled column name must be an error, not silent data loss
    // (the row would store with the real column null and the value gone)
    in.cols.find(c => !byName.contains(c)).foreach(c =>
      throw ParseException(s"unknown column $c in INSERT into ${in.table}", -1))
    // same rationale for a REPEATED column: toMap's last-wins would
    // silently drop the earlier value
    in.cols.diff(in.cols.distinct).headOption.foreach(c =>
      throw ParseException(s"duplicate column $c in INSERT into ${in.table}", -1))
    val newRows = in.rows.map { vals =>
      if (vals.length != in.cols.length) // ParseException, not require: the
        // dialect's error contract is ParseException for every bad statement
        throw ParseException(
          s"INSERT has ${in.cols.length} columns but ${vals.length} values", -1)
      val m = in.cols.zip(vals.map(v => LnxSql.bind(v, params))).toMap
      Row.fromSeq(schema.fields.toSeq.map { f =>
        val raw = m.get(f.name).map(l => litValue(l, f.dataType))
          .orElse(defaults.get(f.name))
          .getOrElse(null) // missing nullable columns default to null (apis/mod.rs:124-127)
        checkNotNull(required, f.name, normalize(tpeByName.getOrElse(f.name, ""), raw))
      })
    }
    // INSERT is always UPSERT by PK; within a batch the LAST write wins
    // (apis/mod.rs:81-82, Cassandra analogy)
    val n = upsertRows(t, newRows)
    status(s"upserted $n rows into ${in.table}")
  }

  /** Last-occurrence-wins PK dedup of a driver-side row batch,
    * preserving the surviving rows' input order.
    */
  private def dedupeByPk(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType,
      pk: Seq[String]): Seq[Row] = {
    if (pk.isEmpty) return rows
    val pkIdx = pk.map(schema.fieldIndex)
    // Array[Byte] compares by IDENTITY inside a Seq key — a bytea PK
    // would never dedup (both copies of a repeated key survive and the
    // unique-key docId-determinism invariant breaks); wrap binary
    // values in a value-comparable Seq
    def keyVal(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
    def keyOf(r: Row): Seq[Any] = pkIdx.map(i => keyVal(r.get(i)))
    val lastIdx = rows.zipWithIndex.map { case (r, i) => keyOf(r) -> i }.toMap
    rows.zipWithIndex.collect { case (r, i) if lastIdx(keyOf(r)) == i => r }
  }

  /** The ONE upsert tail both ingress paths share (SQL INSERT and
    * payload ingest): last-write-wins PK dedup of the normalized batch,
    * PK anti-join against the current rows, union. Returns the number
    * of surviving rows. Keeping this single means the two paths cannot
    * drift on upsert semantics.
    */
  private def upsertRows(t: TableState, rows: Seq[Row]): Int = {
    val schema = t.rows.schema
    val pk = t.config.keyCols
    val deduped = dedupeByPk(rows, schema, pk)
    val newDf = spark.createDataFrame(spark.sparkContext.parallelize(deduped.toList), schema)
    t.rows = t.rows.join(newDf.select(pk.map(col): _*), pk, "left_anti").unionByName(newDf)
    noteMutation(t)
    deduped.size
  }

  private def colFilter(p: ColPred, params: Seq[Lit], t: TableState): Column = {
    val field = t.rows.schema.fields.find(_.name == p.col)
      .getOrElse(throw ParseException(s"unknown column ${p.col}", -1))
    val tpe = t.columns.find(_.name == p.col).map(_.tpe).getOrElse("")
    val bound = LnxSql.bind(p.value, params)
    field.dataType match {
      // multi-value column semantics (tantivy multivalued fields, the
      // reference's flagship `category = $2` against `category text[]`,
      // examples/queries/fuzzy.sql:12): scalar comparison = membership;
      // array comparison = whole-array equality
      case ArrayType(et, _) =>
        bound match {
          case a: ALit =>
            val items = litValue(a, field.dataType).asInstanceOf[Seq[Any]]
              .map(v => lit(normalize(tpe, v)))
            val arr = if (items.isEmpty) array().cast(field.dataType) else array(items: _*)
            p.op match {
              case "=" => col(p.col) === arr
              case "<>" | "!=" => col(p.col) =!= arr
              case other =>
                throw ParseException(s"operator $other not supported on array columns", -1)
            }
          case scalar =>
            val v = lit(normalize(tpe, litValue(scalar, et)))
            p.op match {
              case "=" => array_contains(col(p.col), v)
              case "<>" | "!=" => !array_contains(col(p.col), v)
              case other =>
                throw ParseException(s"operator $other not supported on array columns", -1)
            }
        }
      case dt =>
        val v = lit(normalize(tpe, litValue(bound, dt)))
        p.op match {
          case "=" => col(p.col) === v
          case ">" => col(p.col) > v
          case "<" => col(p.col) < v
          case ">=" => col(p.col) >= v
          case "<=" => col(p.col) <= v
          case "<>" | "!=" => col(p.col) =!= v
        }
    }
  }

  /** Ingest a document payload — JSON (one object), NDJSON, or MSGPACK
    * (lnx-ffi/src/format.rs:2-13) — into a registered table, with the
    * same UPSERT-by-PK semantics as INSERT (apis/mod.rs:81-82). The
    * payload is request-sized (a REST body analogue), so the decoded
    * rows pass through the driver for the same per-type normalization
    * (ip canonical form, unsigned range checks) as SQL inserts.
    */
  def ingest(tableName: String, format: String, payload: Array[Byte]): DataFrame = {
    val t = table(tableName)
    val schema = t.rows.schema
    val byName = schema.fields.map(f => f.name -> f).toMap
    val tpeByName = t.columns.map(c => c.name -> c.tpe).toMap
    // the same DEFAULT semantics as SQL INSERT: a document that OMITS a
    // defaulted column stores the default; an explicit wire null stores
    // NULL — JSON and msgpack both distinguish null from absent, and
    // SQL INSERT of an explicit NULL stores NULL (coerceRow at :516),
    // so ingress paths agree on what the same logical document means
    // (DocDecode presence contract)
    val defaults: Map[String, Any] = t.columns.flatMap(c =>
      c.default.map(d => c.name -> litValue(d, byName(c.name).dataType))).toMap
    // decodeLocalWithPresence: msgpack rows decode on the driver and
    // stay there (no parallelize -> collect job per request body)
    val decoded =
      graft.sources.DocDecode.decodeLocalWithPresence(spark, format, payload, schema)
    val required = requiredCols(t)
    val newRows = decoded.map { case (r, present) =>
      Row.fromSeq(schema.fields.toSeq.map { f =>
        val raw =
          if (present.contains(f.name)) r.getAs[Any](f.name)
          else defaults.getOrElse(f.name, null)
        checkNotNull(required, f.name, normalize(tpeByName.getOrElse(f.name, ""), raw))
      })
    }
    // last write wins within a payload — the shared upsert tail
    val n = upsertRows(t, newRows)
    status(s"ingested $n documents into $tableName")
  }

  /** Partition a WHERE into (searches, colPreds, scorePreds) and apply
    * the one shared validity rule — score() needs a search clause to
    * define a score — in ONE place for SELECT/UPDATE/DELETE (the
    * reference documents a single WHERE grammar for all three,
    * apis/mod.rs:141-152; statement-specific drift here would be a
    * silent semantics fork).
    */
  private def partitionPreds(
      where: Seq[Pred]): (Seq[SearchPred], Seq[ColPred], Seq[ScorePred]) = {
    val searches = where.collect { case sp: SearchPred => sp }
    val colPreds = where.collect { case cp: ColPred => cp }
    val scorePreds = where.collect { case sp: ScorePred => sp }
    if (searches.isEmpty && scorePreds.nonEmpty)
      throw ParseException(
        "score() predicates require a search clause (fts/fuzzy/levenshtein/regex) in WHERE", -1)
    (searches, colPreds, scorePreds)
  }

  /** Match set of `searches` (AND of clauses) with per-clause
    * thresholds and score() predicates applied — ONE implementation
    * shared by SELECT's un-capped path and the search-predicate
    * mutation paths, so a SELECT preview of "what will this DELETE
    * remove" can never diverge from the DELETE itself.
    */
  private def thresholdedMatches(e: QueryEngine, searches: Seq[SearchPred],
      scorePreds: Seq[ScorePred], params: Seq[Lit]): DataFrame = {
    var m = e.matchF32(searches.map(toClause(_, params)))
    // per-clause thresholds: supported when there is a single
    // search clause (clause score == total score, apis/mod.rs:221)
    searches.flatMap(_.cmp).foreach { case (op, v) =>
      if (searches.size != 1)
        throw ParseException("score threshold on multi-clause WHERE: use score()", -1)
      m = applyCmp(m, op, v)
    }
    scorePreds.foreach(sp => m = applyCmp(m, sp.op, sp.value))
    m
  }

  /** PK rows of the FULL match set of `searches` (AND of clauses, same
    * semantics as SELECT's un-capped path: per-clause thresholds, then
    * score() predicates, then stored-column predicates), for the
    * search-predicate DELETE/UPDATE paths. Top-k is never applied —
    * mutations see every match; the default LIMIT (query.rs:15-17) is
    * a SELECT pagination device. The result stays the slim key set, so
    * at scale the anti-/semi-join shuffles keys, not documents.
    */
  private def searchMatchedKeys(t: TableState, searches: Seq[SearchPred],
      scorePreds: Seq[ScorePred], colPreds: Seq[ColPred], params: Seq[Lit]): DataFrame = {
    // attached tables stream a persisted store's doc parquet in scale
    // mode: a search mutation would localCheckpoint (materialize) the
    // whole corpus in-session — exactly what cacheDocs = false exists
    // to avoid. The durable tool for that job is the store-level op.
    if (t.attached)
      throw ParseException("search-predicate DELETE/UPDATE on an attached store would " +
        "materialize the full doc store in-session; use IndexStore.deleteByQuery " +
        "(durable delete-by-query) and re-attach", -1)
    val e = engineFor(t)
    val m = thresholdedMatches(e, searches, scorePreds, params)
    val joined = e.index.docs.join(m.select("docId"), "docId")
    val restricted =
      if (colPreds.isEmpty) joined
      else joined.filter(colPreds.map(colFilter(_, params, t)).reduce(_ && _))
    restricted.select(t.config.keyCols.map(col): _*)
  }

  private def runDelete(d: Delete, params: Seq[Lit]): DataFrame = {
    val t = table(d.table)
    val (searches, colPreds, scorePreds) = partitionPreds(d.where)
    if (searches.isEmpty) {
      val cond = colPreds.map(colFilter(_, params, t))
        .reduceOption(_ && _).getOrElse(lit(true))
      // three-valued logic: a NULL predicate must KEEP the row (standard
      // SQL DELETE removes only rows where the predicate is TRUE), but
      // filter(!cond) drops NULL rows too — !NULL is NULL, and filter
      // keeps only TRUE. Coalesce pins NULL to "not matched".
      t.rows = t.rows.filter(!coalesce(cond, lit(false)))
    } else {
      // delete-by-query: the reference documents ONE WHERE grammar for
      // SELECT/UPDATE/DELETE ("WHERE conditions", apis/mod.rs:141-152)
      // and defines the search functions as WHERE-clause functions
      // (apis/mod.rs:208-281), so fts/fuzzy predicates are in-surface
      // here too — and delete-everything-matching-this-query is the
      // curation op a training-data pipeline runs at scale.
      // localCheckpoint BEFORE noteMutation: the new rows' lineage runs
      // through the current engine's cached index, which noteMutation
      // releases — materializing first keeps the delete a one-pass job
      // instead of a lazy index rebuild on every later read.
      t.rows = t.rows.join(searchMatchedKeys(t, searches, scorePreds, colPreds, params),
        t.config.keyCols, "left_anti").localCheckpoint()
    }
    noteMutation(t)
    status(s"deleted from ${d.table}")
  }

  private def runUpdate(u: Update, params: Seq[Lit]): DataFrame = {
    val t = table(u.table)
    val (searches, colPreds, scorePreds) = partitionPreds(u.where)
    val colCond = colPreds.map(colFilter(_, params, t))
      .reduceOption(_ && _).getOrElse(lit(true))
    val schema = t.rows.schema
    // materialize WHERE once: SET columns may rewrite columns the
    // predicate reads, so evaluating `cond` per-SET would re-test it
    // against post-update values (e.g. SET a = 5, b = 1 WHERE a < 2)
    var updated =
      if (searches.isEmpty) t.rows.withColumn("__cond", colCond)
      else {
        // update-by-query (same surface argument as runDelete): rows
        // whose PK is in the match set AND pass the column predicates.
        // Search matching runs against the PRE-update table state — a
        // SET rewriting the searched column must not re-tokenize
        // mid-statement (the materialize-WHERE-once rule, lifted to
        // the index).
        val keys = searchMatchedKeys(t, searches, scorePreds, Nil, params)
          .withColumn("__smatch", lit(true))
        t.rows.join(keys, t.config.keyCols, "left_outer")
          .withColumn("__cond", coalesce(col("__smatch"), lit(false)) && colCond)
          .drop("__smatch")
      }
    val required = requiredCols(t)
    u.sets.foreach { case (c, l) =>
      // PK columns identify the document (INSERT = UPSERT by PK,
      // index.rs:61-64): rewriting one in place would silently fork a
      // row away from its identity, so reject it like Cassandra does
      // for its analogous PK-upsert model. NOT NULL stays enforced on
      // the UPDATE path too — SET c = NULL must not bypass INSERT's
      // 'strictly forbid a field value being null' (apis/mod.rs:112).
      if (t.config.keyCols.contains(c))
        throw ParseException(s"cannot UPDATE primary-key column $c (PK is the upsert identity)", -1)
      if (LnxSql.bind(l, params) == NullLit && required(c))
        throw ParseException(s"column $c is NOT NULL; UPDATE may not set it to null", -1)
    }
    u.sets.foreach { case (c, l) =>
      val dt = schema.fields.find(_.name == c)
        .getOrElse(throw ParseException(s"unknown column $c", -1)).dataType
      // same normalization as INSERT/WHERE: ip canonicalization +
      // unsigned range checks must not be bypassable via UPDATE
      val tpe = t.columns.find(_.name == c).map(_.tpe).getOrElse("")
      // array columns need array(lit(el)...) like colFilter builds —
      // lit(Seq(...)) is rejected by Spark (UNSUPPORTED_FEATURE.LITERAL_TYPE),
      // so UPDATE t SET tags = ARRAY[...] would crash
      val valueCol = (dt, litValue(LnxSql.bind(l, params), dt)) match {
        case (at: ArrayType, s: Seq[_]) =>
          val items = s.map(v => lit(normalize(tpe, v)))
          if (items.isEmpty) array().cast(at) else array(items: _*)
        case (_, v) => lit(normalize(tpe, v))
      }
      updated = updated.withColumn(c,
        when(col("__cond"), valueCol).otherwise(col(c)))
    }
    // search path: the using-columns join moved the PK columns to the
    // front — restore the declared layout (schema order is part of the
    // table's contract; see the r4 layout-drift finding) — and
    // materialize before noteMutation releases the engine caches the
    // lineage runs through (see runDelete)
    t.rows =
      if (searches.isEmpty) updated.drop("__cond")
      else updated.select(schema.fieldNames.map(col).toIndexedSeq: _*).localCheckpoint()
    noteMutation(t)
    status(s"updated ${u.table}")
  }

  private def engineFor(t: TableState): QueryEngine = t.engine.getOrElse {
    val e = new QueryEngine(IndexBuilder.build(t.rows, t.config))
    t.engine = Some(e)
    e
  }

  private def toClause(p: SearchPred, params: Seq[Lit]): SearchClause = {
    val q = LnxSql.bind(p.arg, params) match {
      case SLit(s) => s
      case other => throw ParseException(s"search argument must be a string, got $other", -1)
    }
    p.func match {
      case "fts" => Fts(p.col, q)
      case "fuzzy" => FuzzyC(p.col, q)
      case "levenshtein" => LevC(p.col, q)
      case "regex" => RegexC(p.col, q)
      case "fastfuzzy" => FastFuzzy(p.col, q)
    }
  }

  /** `SELECT facet_counts(col) FROM t [WHERE ...] [ORDER BY facet|cnt]
    * [LIMIT n]`: hierarchical count-per-facet-path-prefix over the match
    * set (apis/mod.rs:177) — the SQL surface onto QueryEngine.facetCounts.
    * Result columns (facet, cnt); default order = facet asc
    * (deterministic). No default LIMIT: a facet summary is a bounded
    * aggregation, not a document page.
    */
  private def runFacetSelect(s: Select, f: FacetCol, searches: Seq[SearchPred],
      colPreds: Seq[ColPred], scorePreds: Seq[ScorePred], params: Seq[Lit],
      t: TableState): DataFrame = {
    if (s.cols.size != 1)
      throw ParseException("facet_counts must be the only SELECT column", -1)
    if (scorePreds.nonEmpty || searches.flatMap(_.cmp).nonEmpty)
      throw ParseException("facet_counts does not combine with score thresholds", -1)
    if (!t.rows.columns.contains(f.col))
      throw ParseException(s"unknown column ${f.col}", -1)
    val e = engineFor(t)
    val matchedIds =
      if (searches.nonEmpty) e.matchF32(searches.map(toClause(_, params))).select("docId")
      else e.index.docs.select("docId")
    // column predicates restrict the counted docs (stored-field filter)
    val restricted =
      if (colPreds.isEmpty) matchedIds
      else e.index.docs.join(matchedIds, "docId")
        .filter(colPreds.map(colFilter(_, params, t)).reduce(_ && _))
        .select("docId")
    val counts = e.facetCounts(restricted, col(f.col))
    val ordered = s.orderBy match {
      case Some((n, asc)) if n == "facet" || n == "cnt" =>
        counts.orderBy(if (asc) col(n).asc else col(n).desc, col("facet").asc)
      case None => counts.orderBy(col("facet").asc)
      case Some((n, _)) =>
        throw ParseException(s"facet_counts orders by facet or cnt, got $n", -1)
    }
    s.limit.map(ordered.limit).getOrElse(ordered)
  }

  /** @param planOnly EXPLAIN: a capped search stays a lazy frame
    *   (searchF32Planned), so formatting the plan runs no job */
  private def runSelect(s: Select, params: Seq[Lit], planOnly: Boolean = false): DataFrame = {
    val t = table(s.table)
    // score() without a search clause has no score to threshold —
    // partitionPreds fails loudly for SELECT and mutations alike
    val (searches, colPreds, scorePreds) = partitionPreds(s.where)
    s.cols.collectFirst { case f: FacetCol => f } match {
      case Some(f) => return runFacetSelect(s, f, searches, colPreds, scorePreds, params, t)
      case None =>
    }
    cappedFetch(s, params) match {
      // already in (score desc, docId asc) order with <= limit rows: no
      // orderBy/limit again (a Sort over a LocalRelation still runs a job)
      case Some(f) => return project(s, t, f.e.searchWithDocs(f.clauses, f.limit, f.docCols))
      case None =>
    }
    val limit = limitOf(s)
    val aliasTarget = aliasTargets(s)
    val orderIsScore = ordersByScore(s, searches)

    val base: DataFrame =
      if (searches.nonEmpty) {
        val e = engineFor(t)
        val clauses = searches.map(toClause(_, params))
        val noThresholds = searches.flatMap(_.cmp).isEmpty && scorePreds.isEmpty
        // can the top-k be taken on the slim (docId, score) set BEFORE
        // joining stored fields? (no column predicate drops rows after
        // the join, and the final order is the score order)
        val capped = colPreds.isEmpty && orderIsScore
        val scored =
          if (capped && noThresholds) {
            // the flagship shape (fts/fuzzy WHERE + ORDER BY score()
            // LIMIT k, fuzzy.sql) where cappedFetch declined it (LIMIT
            // above MaxLookupIds, or a heavy-churn store's index without
            // docId ranges): searchF32 routes eligible queries
            // through block-max WAND (exact vs exhaustive, WandSpec)
            // instead of scoring every matching posting. Thresholded
            // queries stay on the exhaustive path: filters must apply
            // to the full match set before any k-cap.
            if (planOnly) e.searchF32Planned(clauses, limit) else e.searchF32(clauses, limit)
          } else {
            val m = thresholdedMatches(e, searches, scorePreds, params)
            if (capped) Scorer.topK(m, limit) else m
          }
        // a capped scored side is <= limit rows: hint the broadcast
        // explicitly (AQE may not see the cap through the shuffle, and
        // anything later persisted would freeze a sort-merge plan) —
        // but only while the cap is provably broadcast-sized: `limit`
        // is unbounded user input, and a forced broadcast the planner
        // cannot refuse would OOM under a huge LIMIT. Above the bound
        // the join runs un-hinted and AQE decides from runtime sizes.
        if (capped && limit <= SearchDefaults.MaxBroadcastK)
          e.index.docs.join(broadcast(scored), "docId")
        else e.index.docs.join(scored, "docId")
      } else {
        t.rows.withColumn("score", lit(0.0f))
      }
    val filtered = colPreds.foldLeft(base)((df, p) => df.filter(colFilter(p, params, t)))

    // ORDER BY may reference a SELECT alias (e.g. score() AS s)
    val resolvedOrder = s.orderBy.map { case (n, asc) => (aliasTarget.getOrElse(n, n), asc) }
    // the tie-break chain pinning a TOTAL order: Spark's distributed
    // sort is not stable, so a LIMIT boundary cutting a tie group would
    // return different row sets per run without it — docId on search
    // frames (== key order under keyRange, the oracle tie-break), the
    // PK columns otherwise
    def tieBreak(df: DataFrame): Seq[Column] =
      if (df.columns.contains("docId")) Seq(col("docId").asc)
      else t.config.keyCols.filter(df.columns.contains(_)).map(col(_).asc)
    val ordered = resolvedOrder match {
      case Some((n, asc)) =>
        // resolve case-insensitively (Spark's own default resolution,
        // and 'score' is reserved case-insensitively at CREATE — the
        // check must not regress previously-working `ORDER BY Score`);
        // unknown columns are the dialect's error contract, not a raw
        // AnalysisException out of eager Dataset analysis
        val cname =
          if (n.equalsIgnoreCase("score")) "score"
          else filtered.columns.find(_.equalsIgnoreCase(n)).getOrElse(
            throw ParseException(s"unknown column $n in ORDER BY", -1))
        val key = if (asc) col(cname).asc else col(cname).desc
        filtered.orderBy(key +: tieBreak(filtered): _*)
      case None if searches.nonEmpty => orderByScore(filtered)
      case None => filtered
    }
    project(s, t, ordered.limit(limit))
  }

  private def limitOf(s: Select): Int =
    s.limit.getOrElse(SearchDefaults.DefaultLimit) // default 1000 (query.rs:15-17)

  /** ONE alias-resolution map (SELECT alias -> underlying column)
    * shared by the top-k gates and the ORDER BY resolution — two copies
    * would invite drift between the gates and the ordering. */
  private def aliasTargets(s: Select): Map[String, String] = s.cols.collect {
    case NamedCol(n, Some(a)) => a -> n
    case ScoreCol(Some(a)) => a -> "score"
  }.toMap

  /** Will the final order be by score? (drives the pre-join top-k) */
  private def ordersByScore(s: Select, searches: Seq[SearchPred]): Boolean = s.orderBy match {
    case Some((n, asc)) => !asc && aliasTargets(s).getOrElse(n, n) == "score"
    case None => searches.nonEmpty
  }

  /** What a capped statement's fetch path runs: `e.searchWithDocs` of
    * its clauses, LIMIT and the stored columns its projection reads. */
  private final case class CappedFetch(e: QueryEngine, clauses: Seq[SearchClause], limit: Int,
      docCols: Seq[String])

  /** The fetch path of a capped search statement — no column predicate,
    * order = score desc, no thresholds, LIMIT <= MaxLookupIds, an index
    * with docId ranges (in-memory builds, and attached stores under the
    * load's tombstone gate, whose search partitions are their file
    * pairs; a heavy-churn store above it has none) — or None when the
    * statement keeps the docs join. The path
    * (QueryEngine.searchWithDocs) is one job while partitions x LIMIT
    * <= MaxLookupIds — each task scores its shards and reads its local
    * top-k's stored fields from its own docs partition — and above
    * that two: the top-k, then the stored fields of only the docs
    * partitions holding a hit; never a broadcast join over every docs
    * partition. Builds the index when the statement qualifies and it
    * is not built yet.
    */
  private def cappedFetch(s: Select, params: Seq[Lit]): Option[CappedFetch] = {
    val t = table(s.table)
    val (searches, colPreds, scorePreds) = partitionPreds(s.where)
    val limit = limitOf(s)
    val qualifies = searches.nonEmpty && colPreds.isEmpty && scorePreds.isEmpty &&
      searches.forall(_.cmp.isEmpty) && limit <= SearchDefaults.MaxLookupIds &&
      !s.cols.exists(_.isInstanceOf[FacetCol]) && ordersByScore(s, searches)
    if (!qualifies) return None
    val e = engineFor(t)
    if (e.index.docRanges.isEmpty) return None
    // the stored columns `project` reads; absent (sparse) names stay null
    val docCols = s.cols.flatMap {
      case StarCol => t.rows.columns.toSeq
      case NamedCol(n, _) if !n.equalsIgnoreCase("score") && t.rows.columns.contains(n) => Seq(n)
      case _ => Nil
    }.distinct
    Some(CappedFetch(e, searches.map(toClause(_, params)), limit, docCols))
  }

  /** The SELECT list over a frame of stored columns + score. */
  private def project(s: Select, t: TableState, df: DataFrame): DataFrame = {
    val projected = s.cols.flatMap {
      case StarCol => t.rows.columns.toSeq.map(c => outputCol(t, c))
      case NamedCol(n, a) if n.equalsIgnoreCase("score") =>
        // 'score' is reserved at CREATE/register, so the bare name can
        // only mean the ranking signal — same resolution ORDER BY
        // already applies; the sparse-field fallback below would
        // silently return all-NULLs for the one column that IS present
        Seq(a.fold(col("score").as(n))(al => col("score").as(al)))
      case NamedCol(n, a) =>
        // documents are sparse: a selected field no document carries is
        // null, not an error (apis/mod.rs:124-127; the reference's own
        // fuzzy.sql selects `rating`, absent from create_table.sql)
        val base = if (t.rows.columns.contains(n)) outputCol(t, n) else lit(null).cast("string").as(n)
        Seq(a.fold(base)(al => base.as(al)))
      case ScoreCol(a) => Seq(a.fold(col("score"))(al => col("score").as(al)))
      case _: FacetCol => throw ParseException("facet_counts handled above", -1) // unreachable
    }
    df.select(projected: _*)
  }

  /** Projection form of a stored column: ip columns store the sortable
    * 32-hex canonical value, so SELECT renders them back to display
    * text (comparisons keep running on the stored form).
    */
  private def outputCol(t: TableState, n: String): Column =
    t.columns.find(_.name == n) match {
      case Some(c) if c.tpe == "ip" && !c.isArray => ipDisplay(col(n)).as(n)
      case Some(c) if c.tpe == "ip" && c.isArray => transform(col(n), ipDisplay(_)).as(n)
      case _ => col(n)
    }

  private def orderByScore(df: DataFrame): DataFrame =
    if (df.columns.contains("docId")) df.orderBy(col("score").desc, col("docId").asc)
    else df.orderBy(col("score").desc)

  private def applyCmp(df: DataFrame, op: String, v: Double): DataFrame = op match {
    case ">" => df.filter(col("score") > v)
    case ">=" => df.filter(col("score") >= v)
    case "<" => df.filter(col("score") < v)
    case "<=" => df.filter(col("score") <= v)
    case "=" => df.filter(col("score") === v)
    case _ => df.filter(col("score") =!= v)
  }
}
