package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.ops.{Dedup, Multimodal, Similarity, TextStats}
import graft.query._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises the engine (real posting lists, real
  * scorers) on its oracle-parity f64 path; each `oracleSql` entry is
  * the equivalent DuckDB SQL generated by OracleSql so tokenization,
  * fieldnorm quantization and BM25 arithmetic match bit-for-bit up to
  * round(score, 4).
  */
object SparkEntry {

  private val engines = scala.collection.concurrent.TrieMap.empty[String, QueryEngine]

  /** Build (once per sfDir) the inverted index over the documents table.
    * `text` uses the default code-aware analyzer; `lang` is indexed with
    * the `raw` tokenizer (one un-analyzed token per doc — the reference's
    * per-column tokenizer DDL, apis/mod.rs:211-213), gated by q39.
    */
  def docEngine(spark: SparkSession, dir: String): QueryEngine =
    engines.getOrElseUpdate(dir, {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val idx = IndexBuilder.build(
        docs, IndexConfig(Seq("doc_id"), Seq("text", "lang"), shardDocs = 1024,
          buildPartitions = parts, tokenizers = Map("lang" -> "raw")))
      new QueryEngine(idx)
    })

  private val wsEngines = scala.collection.concurrent.TrieMap.empty[String, QueryEngine]

  /** The documents index with `text` under the WHITESPACE tokenizer
    * (Unicode White_Space split, case preserved, codepoint caps —
    * Tokenizers v3), gated by q54 against the DuckDB twin.
    */
  def wsEngine(spark: SparkSession, dir: String): QueryEngine =
    wsEngines.getOrElseUpdate(dir, {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val idx = IndexBuilder.build(
        docs, IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 1024,
          buildPartitions = parts, tokenizers = Map("text" -> "whitespace")))
      new QueryEngine(idx)
    })

  private val storeEngines = scala.collection.concurrent.TrieMap.empty[String, QueryEngine]
  private val delStoreEngines = scala.collection.concurrent.TrieMap.empty[String, QueryEngine]
  private val ivfStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The same index written through IndexStore (segments + manifest)
    * and loaded back in SCALE mode — stored fields stream from the
    * segment parquet, docs NOT cached (cacheDocs = false) — gating the
    * whole persistence path, including the uncached doc-store access,
    * against the same oracles as the in-memory build. Its fast-fuzzy
    * key keeps the name `q38_persisted_fastfuzzy` from when the store
    * persisted a SymSpell artifact; it now corrects over the store's
    * term dictionary like every other engine.
    */
  def storeEngine(spark: SparkSession, dir: String): QueryEngine =
    storeEngines.getOrElseUpdate(dir, {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val tmp = java.nio.file.Files.createTempDirectory("graftstore").toString
      IndexStore.create(docs,
        IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 1024, buildPartitions = parts),
        tmp).unpersist()
      new QueryEngine(IndexStore.load(spark, tmp, cacheDocs = false))
    })

  /** Round + order + limit with the oracle's total order:
    * (round(score,4) desc, doc_id asc). The top-k is taken on the slim
    * (docId, score) set BEFORE the stored-fields join, so the broadcast
    * side of withDocs is provably <= k rows even when the match set is
    * corpus-sized (e.g. a stopword query). docId is monotone in doc_id
    * (range-partitioned key sort), so the docId tie-break below equals
    * the oracle's doc_id tie-break.
    */
  private def present(e: QueryEngine, scored: DataFrame, k: Int): DataFrame = {
    val top = scored
      .select(col("docId"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
    e.withDocs(top, Seq("doc_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val e = docEngine(spark, "/root/testdata/sf0.001")
    present(e, e.matchF64(Seq(Fts("text", "merge sort data"))), 10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1 fts: BM25 top-k (SURVEY §2.4 F1; T1/T2 order+limit)
    "q01_fts_topk" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "merge sort data"))), 10)
    }),
    // F1 prefix: trailing * term expansion (apis/mod.rs:214-216)
    "q02_fts_prefix" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "s*"))), 10)
    }),
    // P4 conjunction of search predicates: summed scores (fuzzy.sql:9-12)
    "q03_fts_conj" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "vector"), Fts("text", "window"))), 10)
    }),
    // F2 fuzzy: edit-distance-weighted BM25 (apis/mod.rs:225-246)
    "q04_fuzzy" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(FuzzyC("text", "mrege"))), 10)
    }),
    // F2 fuzzy, multi-token: all tokens' expansions in ONE disjunction
    // group (gates the engine/oracle multi-token parity)
    "q32_fuzzy_multi" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(FuzzyC("text", "mrege sortt"))), 10)
    }),
    // F2+P4 conjunction of fuzzy clauses — the reference's flagship
    // WHERE shape (fuzzy.sql:10-12): two required groups, scores sum
    "q33_fuzzy_conj" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(FuzzyC("text", "mrege"), FuzzyC("text", "sortt"))), 10)
    }),
    // F1+F2+P4 mixed conjunction: prefix expansion AND fuzzy expansion
    "q35_prefix_fuzzy_conj" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "sor*"), FuzzyC("text", "mrege"))), 10)
    }),
    // F1 MULTI-prefix in one clause (the reference's own doc example
    // shape `fts(name, 'Tim* Mich*')`, apis/mod.rs:221) — gates the
    // single-scan OR-of-pushable-prefixes expansion (no NLJ, PlanSpec)
    "q43_fts_multi_prefix" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "sor* mer*"))), 10)
    }),
    // BATCHED multi-query search (QueryEngine.searchManyF64): four
    // mixed-shape queries (exact fts / prefix / fuzzy / fast-fuzzy)
    // scored in ONE pass over the union of their postings — decode-once
    // per shard, per-query replay in single-query accumulation order,
    // shard-local per-query top-k heaps. The oracle is the queries'
    // INDIVIDUAL oracles stacked with a qid tag, so this gate proves
    // batched == one-at-a-time, including the coalesced compileMany
    // dictionary lookups (df/prefix/fuzzy/correction in one job each).
    "q50_search_batch" -> ((s, dir) => {
      val e = docEngine(s, dir)
      val top = e.searchManyF64(Seq(
        0 -> Seq(Fts("text", "merge sort data")),
        1 -> Seq(Fts("text", "s*")),
        2 -> Seq(FuzzyC("text", "mrege")),
        3 -> Seq(FastFuzzy("text", "mrege sortt"))), 10)
        .select(col("qid"), col("docId"), round(col("score"), 4).as("score"))
      // withDocs centralizes the docId->stored-fields join policy
      // (MaxBroadcastK-gated broadcast); 4 queries x k=10 rows
      e.withDocs(top, Seq("qid", "doc_id"), cap = 40)
        .orderBy(col("qid").asc, col("score").desc, col("doc_id").asc)
    }),
    // the same batched path over the PERSISTED scale-mode engine
    // (IndexStore segments, docs NOT cached): gates scoreMany over
    // store-loaded postings + the uncached stored-field join
    "q51_search_batch_store" -> ((s, dir) => {
      val e = storeEngine(s, dir)
      val top = e.searchManyF64(Seq(
        0 -> Seq(Fts("text", "merge sort data")),
        1 -> Seq(FastFuzzy("text", "mrege sortt"))), 10)
        .select(col("qid"), col("docId"), round(col("score"), 4).as("score"))
      e.withDocs(top, Seq("qid", "doc_id"), cap = 20)
        .orderBy(col("qid").asc, col("score").desc, col("doc_id").asc)
    }),
    // F4 regex with a required literal prefix: same rlike semantics,
    // but the dictionary scan is narrowed to the prefix's term range
    "q45_regex_prefixed" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(RegexC("text", "sor.+"))), 1000)
    }),
    // S4-S6/S9 persisted path: the SAME query semantics through
    // IndexStore segments + manifest instead of the in-memory build
    "q37_persisted_fts" -> ((s, dir) => {
      val e = storeEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "merge sort data"))), 10)
    }),
    // F5 through a persisted store: corrections over its termstats
    // dictionary
    "q38_persisted_fastfuzzy" -> ((s, dir) => {
      val e = storeEngine(s, dir)
      present(e, e.matchF64(Seq(FastFuzzy("text", "mrege sortt"))), 10)
    }),
    // per-column tokenizers: fts on a raw-indexed column is a BM25-
    // scored EXACT-VALUE match — the query text is tokenized with the
    // column's own tokenizer (apis/mod.rs:211-213; sql.rs:110)
    "q39_fts_raw" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("lang", "en"))), 50)
    }),
    // Sc1 whitespace tokenizer end-to-end (Tokenizers v3: Unicode
    // White_Space split, case preserved, codepoint caps) — the index,
    // fieldnorms, and query tokenization all run under `whitespace`,
    // against the DuckDB twin Analyzer.whitespaceTokensSqlDuck
    "q54_fts_whitespace" -> ((s, dir) => {
      val e = wsEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "merge data"))), 10)
    }),
    // F3 levenshtein: 1.0/0.0 match (apis/mod.rs:249-266)
    "q05_lev" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(LevC("text", "scann"))), 1000)
    }),
    // F4 regex over terms (apis/mod.rs:269-281)
    "q06_regex" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(RegexC("text", "b.tch|sc.n"))), 1000)
    }),
    // P3 score threshold: fts(...) > 1.0 (apis/mod.rs:221)
    "q07_threshold" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "data merge")), Some(0.2)), 1000)
    }),
    // T3 fetchone (query.rs:26-34)
    "q08_fetchone" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "spark join"))), 1)
    }),
    // T2 default LIMIT 1000 (query.rs:15-17)
    "q09_default_limit" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(Fts("text", "the"))), SearchDefaults.DefaultLimit)
    }),
    // facet counting over a match set (apis/mod.rs:177; SURVEY §2.5) —
    // reached through the SQL dialect's facet_counts() surface
    "q10_facet" -> ((s, dir) => {
      val sess = new graft.sql.LnxSession(s)
      val docs = documents(s, dir).withColumn("facet",
        concat(lit("/"), col("source"), lit("/"), col("lang")))
      sess.register("docs_faceted", docs, Seq("doc_id"), Seq("text"))
      sess.execute(
        "SELECT facet_counts(facet) FROM docs_faceted WHERE fts(text, 'data') ORDER BY facet")
    }),
    // F5 fast-fuzzy: precomputed spell correction (README.md:28)
    "q11_fastfuzzy" -> ((s, dir) => {
      val e = docEngine(s, dir)
      present(e, e.matchF64(Seq(FastFuzzy("text", "mrege sortt"))), 10)
    }),
    // F6 more-like-this (README.md:29)
    "q12_mlt" -> ((s, dir) => {
      val e = docEngine(s, dir)
      val seedInternal = e.index.docs.filter(col("doc_id") === 42L)
        .select("docId").collect()(0).getLong(0)
      present(e, e.matchF64(Seq(MoreLikeThis("text", seedInternal, 8))), 10)
    }),

    // ---- training-data pipeline operators ----
    // exact dedup by sha256 (simulated duplicate ingest)
    "q13_dedup_exact" -> ((s, dir) => {
      val docs = documents(s, dir)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000)
      Dedup.exactGroups(docs.unionByName(dups), "doc_id", "text")
    }),
    // MinHash + LSH near-dup pairs, exact-Jaccard verified
    "q14_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(documents(s, dir), "doc_id", "text")),
    // n-gram Jaccard with rare-shingle blocking
    "q15_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(documents(s, dir), "doc_id", "text")),
    // SimHash fingerprints
    "q16_simhash" -> ((s, dir) =>
      Dedup.simhash(documents(s, dir), "doc_id", "text")),
    // SimHash near-dup pairs via 15-bit band blocking
    "q17_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.simhash(documents(s, dir), "doc_id", "text"))),
    // same pairs with maxBucket = 2: the bucket hash-split path is
    // genuinely exercised at this sf (buckets of planted dups exceed 2)
    // and the oracle mirrors the split arithmetic exactly
    "q46_simhash_pairs_bounded" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.simhash(documents(s, dir), "doc_id", "text"),
        maxBucket = 2)),
    // brute-force cosine ANN baseline
    "q18_ann_brute" -> ((s, dir) =>
      Similarity.bruteTopK(embeddings(s, dir), "vec_id", "embedding")),
    // IVF-bucketed ANN (scale path)
    "q19_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(embeddings(s, dir), "vec_id", "embedding")),
    // the same ANN semantics against the PERSISTED IVF artifact
    // (centroids + cluster-partitioned assignments built once; the
    // query is a pushed-down probe read, not a per-call corpus
    // re-assignment) — same oracle as q19, so the two paths are proven
    // identical
    "q56_ann_ivf_store" -> ((s, dir) => {
      // memoized per dir (the storeEngine/q53 pattern): repeated
      // invocations must reuse ONE artifact dir, not leak a fresh
      // temp IVF store per Verify run — and the returned frame reads
      // the artifact lazily, so the dir must outlive this call
      val idxDir = ivfStores.getOrElseUpdate(dir, {
        val d = java.nio.file.Files.createTempDirectory("graft-ivf").toString
        Similarity.buildIvfIndex(embeddings(s, dir), "vec_id", "embedding", d)
        d
      })
      Similarity.ivfTopKIndexed(s, idxDir)
    }),
    // embedding-cosine near-dup pairs (IVF-bucketed)
    "q20_cosine_dup" -> ((s, dir) =>
      Similarity.cosineDupPairs(embeddings(s, dir), "vec_id", "embedding")),
    // embedding-cosine near-dup pairs via random-hyperplane LSH (the
    // 100 TB path: bucket size set by band width, not corpus size)
    // bandBits=4 here: the sf0.01 embeddings' true near-dups sit at
    // cosine ~0.45-0.48 (per-bit agreement ~0.66), where an 8-bit band
    // collides at ~3% and the gate would trivially pass on zero rows;
    // 14 bands of 4 bits catch ~94% of them, so the banding, salted
    // split and verify join are all genuinely exercised
    "q30_lsh_cosine_dup" -> ((s, dir) =>
      Similarity.lshCosineDupPairs(embeddings(s, dir), "vec_id", "embedding",
        bandBits = 4)),
    // output-bounded dedup: one canonical representative per near-dup
    // group instead of the (quadratic-in-group-size) pair enumeration
    // the dedup/closure ops return UNORDERED assignments (a sort inside
    // the op would be a wasted exchange for pipeline composition); the
    // oracle-facing registrations order here
    "q47_lsh_dedup_rep" -> ((s, dir) =>
      Similarity.lshCosineDedup(embeddings(s, dir), "vec_id", "embedding",
        bandBits = 4).orderBy("id")),
    // transitive closure of the rep assignment: pointer-jumping rounds
    // until rep chains (rep itself flagged dup of a smaller rep) close;
    // the oracle walks the identical chains with a recursive CTE
    "q48_lsh_dedup_closure" -> ((s, dir) =>
      Dedup.resolveReps(Similarity.lshCosineDedup(
        embeddings(s, dir), "vec_id", "embedding", bandBits = 4)).orderBy("id")),
    // output-bounded TEXT dedup: one representative per minhash bucket,
    // exact-Jaccard verified — the text twin of q47 (pair enumeration is
    // quadratic in dup-group size; this emits exactly N rows)
    "q49_minhash_dedup" -> ((s, dir) =>
      Dedup.minhashDedup(documents(s, dir), "doc_id", "text").orderBy("id")),
    // array-column predicate through the SQL dialect: scalar vs text[]
    // = membership (the reference's `category = $2`, fuzzy.sql:12)
    "q31_array_pred" -> ((s, dir) => {
      val sess = new graft.sql.LnxSession(s)
      val docs = documents(s, dir).withColumn("tags", array(col("source"), col("lang")))
      sess.register("docs_tagged", docs, Seq("doc_id"), Seq("text"))
      sess.execute(
        "SELECT doc_id, n_chars FROM docs_tagged WHERE tags = $1 AND n_chars > 400 " +
          "ORDER BY doc_id LIMIT 100",
        Seq(graft.sql.LnxSql.SLit("en")))
    }),
    // language ID heuristic (stopword profiles)
    "q21_langid" -> ((s, dir) =>
      TextStats.langId(documents(s, dir), "doc_id", "text")),
    // language ID via character n-grams (the n-gram signal proper)
    "q36_langid_ngram" -> ((s, dir) =>
      TextStats.langIdNgram(documents(s, dir), "doc_id", "text")),
    // quality scoring
    "q22_quality" -> ((s, dir) =>
      TextStats.quality(documents(s, dir), "doc_id", "text")),
    // token counting (ws / analyzer / BPE-ish)
    "q23_token_counts" -> ((s, dir) =>
      TextStats.tokenCounts(documents(s, dir), "doc_id", "text")),
    // document fingerprinting
    "q24_fingerprint" -> ((s, dir) =>
      TextStats.fingerprint(documents(s, dir), "doc_id", "text")),
    // context-window chunking: token windows (W=64, stride 48) with a
    // per-chunk CONTENT fingerprint — the window text itself is gated
    "q57_chunk" -> ((s, dir) =>
      TextStats.chunk(documents(s, dir), "doc_id", "text")),
    // token-budget sequence packing: greedy first-fit in doc_id order,
    // range-reset for deterministic parallelism; oracle = DuckDB
    // recursive CTE walking the same fold
    "q58_pack_bins" -> ((s, dir) =>
      TextStats.packBins(documents(s, dir), "doc_id", "text")),
    // multimodal: binary payload -> typed metadata via batched decode stub
    "q25_multimodal_meta" -> ((s, dir) => {
      val docs = documents(s, dir).withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.decodeMeta(docs, "doc_id", "payload")
    }),
    // multimodal REAL decode: byte-level PNG (IHDR + CRC32 verify) and
    // WAV (RIFF fmt) parsing over a binary column; the oracle holds
    // because the decoder must recover the generator-embedded metadata
    "q34_media_decode" -> ((s, dir) => {
      val payloads = Multimodal.syntheticPayload(documents(s, dir), "doc_id")
      Multimodal.decodeMedia(payloads, "doc_id", "payload")
    }),
    // multimodal frame sampling: real RIFF chunk walk + 16-bit PCM frame
    // extraction; the oracle recomputes every sampled value from doc_id
    "q41_frame_sample" -> ((s, dir) => {
      val payloads = Multimodal.syntheticAudioPayload(documents(s, dir), "doc_id")
      Multimodal.sampleFrames(payloads, "doc_id", "payload")
    }),
    // multimodal resize planning: aspect-fit arithmetic over REAL
    // decoded PNG headers
    "q42_resize_plan" -> ((s, dir) => {
      val payloads = Multimodal.syntheticPayload(documents(s, dir), "doc_id")
      Multimodal.resizePlan(payloads, "doc_id", "payload")
    }),
    // multimodal REAL pixel pass: from-scratch zlib inflate (RFC
    // 1950/1951) + PNG unfilter (all 5 filters) + box-filter resize
    // over deflate-compressed RGB payloads; the oracle recomputes the
    // pixel sum and resized checksum from doc_id arithmetic
    "q55_png_pixels" -> ((s, dir) => {
      val payloads = Multimodal.syntheticPixelPayload(documents(s, dir), "doc_id")
      Multimodal.pixelStats(payloads, "doc_id", "payload")
    }),

    // ---- relational / storage parity (SURVEY §2.1 S2, §2.2 P1/P6/P7) ----
    // S2 INSERT-as-UPSERT: last-writer-wins by PK
    "q26_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, dir)
      val v1 = docs.select(col("doc_id"), col("text"), lit(1L).as("version"))
      val v2 = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"), lit(2L).as("version"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
      v1.unionByName(v2)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("version"), md5(col("text")).as("content_md5"))
        .orderBy("doc_id")
    }),
    // P6 UPDATE ... WHERE
    "q27_update" -> ((s, dir) =>
      documents(s, dir)
        .withColumn("lang", when(col("n_chars") < 100, lit("xx")).otherwise(col("lang")))
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy("lang")),
    // P7 DELETE ... WHERE
    "q28_delete" -> ((s, dir) =>
      documents(s, dir).filter(col("source") =!= "src0")
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .orderBy("source")),
    // P1/P3 projection + predicate (pushed to parquet)
    "q29_projection" -> ((s, dir) =>
      documents(s, dir).filter(col("lang") === "en" && col("n_chars").between(100, 300))
        .select("doc_id", "n_chars").orderBy("doc_id")),
    // S3 MSGPACK document decode (lnx-ffi/src/format.rs:10-13): the
    // first 20 documents are msgpack-encoded into one payload (the
    // REST-body analogue), ingested through the session's decode +
    // UPSERT path, and read back — gating that encode∘decode∘ingest
    // preserves every value exactly
    "q40_msgpack_ingest" -> ((s, dir) => {
      val sess = new graft.sql.LnxSession(s)
      sess.execute("CREATE TABLE mp_docs (doc_id bigint primary key, text text, " +
        "lang text, source text, n_chars bigint)")
      val rows = documents(s, dir).filter(col("doc_id") < 20)
        .select("doc_id", "text", "lang", "source", "n_chars").collect()
      val docs: Seq[Any] = rows.toSeq.map(r => Map[String, Any](
        "doc_id" -> r.getLong(0), "text" -> r.getString(1), "lang" -> r.getString(2),
        "source" -> r.getString(3), "n_chars" -> r.getLong(4)))
      sess.ingest("mp_docs", graft.sources.DocDecode.Msgpack, graft.sources.MsgPack.encode(docs))
      sess.execute("SELECT doc_id, lang, source, n_chars FROM mp_docs ORDER BY doc_id")
    }),
    // ip range semantics: the stored canonical 16-byte form orders
    // NUMERICALLY (apis/mod.rs:176) — '10.x' > '9.x' even though text
    // order says otherwise; SELECT renders the dotted display form
    "q44_ip_range" -> ((s, dir) => {
      val sess = new graft.sql.LnxSession(s)
      sess.execute("CREATE TABLE iptab (doc_id bigint primary key, addr ip)")
      val ids = documents(s, dir).filter(col("doc_id") < 200)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val values = ids.map { id =>
        val a = if (id % 2 == 0) 9 else 10
        s"($id, '$a.${id * 7 % 256}.0.${id % 100}')"
      }.mkString(", ")
      sess.execute(s"INSERT INTO iptab (doc_id, addr) VALUES $values")
      sess.execute("SELECT doc_id, addr FROM iptab WHERE addr > '9.200.0.0' ORDER BY doc_id")
    }),
    // delete-by-query: search predicates in DELETE's WHERE (the
    // reference documents ONE grammar — "WHERE conditions" — for
    // SELECT/UPDATE/DELETE, apis/mod.rs:141-152, and the search
    // functions are WHERE-clause functions). The full match set is
    // removed (no LIMIT cap), restricted by the column predicate —
    // the curation shape a training-data pipeline runs at scale.
    "q52_delete_by_query" -> ((s, dir) => {
      val sess = new graft.sql.LnxSession(s)
      val docs = documents(s, dir)
      sess.register("docs_dq", docs, Seq("doc_id"), Seq("text"))
      sess.execute("DELETE FROM docs_dq WHERE fts(text, 'merge sort') AND n_chars < 300")
      // the dialect caps every SELECT (default 1000): derive the cap
      // from the corpus so a larger future testdata can't silently
      // truncate the Spark side while the oracle aggregates all rows
      sess.execute(s"SELECT doc_id, source FROM docs_dq ORDER BY doc_id LIMIT ${docs.count() + 1}")
        .groupBy("source").agg(count(lit(1)).as("cnt")).orderBy("source")
    }),
    // DURABLE delete-by-query (IndexStore.deleteByQuery): tombstone the
    // match set of one query as a delete-only epoch, compact to absorb
    // it, then score a DIFFERENT query through the compacted store —
    // gating that post-delete BM25 stats (N, df, avgdl) equal a fresh
    // build over the live subset, which is what the oracle computes.
    // Memoized per dir (like storeEngine): repeated invocations must
    // not accumulate one cached index + temp store per run
    "q53_store_delete_by_query" -> ((s, dir) => {
      val e = delStoreEngines.getOrElseUpdate(dir, {
        val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val tmp = java.nio.file.Files.createTempDirectory("graftdelstore").toString
        IndexStore.create(documents(s, dir),
          IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 1024, buildPartitions = parts),
          tmp).unpersist()
        IndexStore.deleteByQuery(s, tmp, Seq(Fts("text", "merge")), "del-1")
        IndexStore.compact(s, tmp)
        new QueryEngine(IndexStore.load(s, tmp, cacheDocs = false))
      })
      present(e, e.matchF64(Seq(Fts("text", "sort"))), 10)
    }))

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_fts_topk" -> OracleSql.fts(Seq("merge", "sort", "data"), 10),
    "q02_fts_prefix" -> OracleSql.ftsPrefix("s", 10),
    "q03_fts_conj" -> OracleSql.ftsConj(Seq(Seq("vector"), Seq("window")), 10),
    "q04_fuzzy" -> OracleSql.fuzzy(Seq("mrege"), 10),
    "q32_fuzzy_multi" -> OracleSql.fuzzy(Seq("mrege", "sortt"), 10),
    "q33_fuzzy_conj" -> OracleSql.fuzzyConj(Seq("mrege", "sortt"), 10),
    "q35_prefix_fuzzy_conj" -> OracleSql.prefixFuzzyConj("sor", "mrege", 10),
    "q43_fts_multi_prefix" -> OracleSql.ftsMultiPrefix(Seq("sor", "mer"), 10),
    "q50_search_batch" -> OracleSql.searchBatch(Seq(
      OracleSql.fts(Seq("merge", "sort", "data"), 10),
      OracleSql.ftsPrefix("s", 10),
      OracleSql.fuzzy(Seq("mrege"), 10),
      OracleSql.fastFuzzy(Seq("mrege", "sortt"), 10))),
    "q51_search_batch_store" -> OracleSql.searchBatch(Seq(
      OracleSql.fts(Seq("merge", "sort", "data"), 10),
      OracleSql.fastFuzzy(Seq("mrege", "sortt"), 10))),
    "q45_regex_prefixed" -> OracleSql.regex("sor.+", 1000),
    "q37_persisted_fts" -> OracleSql.fts(Seq("merge", "sort", "data"), 10),
    "q38_persisted_fastfuzzy" -> OracleSql.fastFuzzy(Seq("mrege", "sortt"), 10),
    "q39_fts_raw" -> OracleSql.ftsRaw("lang", "en", 50),
    "q54_fts_whitespace" -> OracleSql.ftsWhitespace(Seq("merge", "data"), 10),
    "q05_lev" -> OracleSql.lev("scann", 1000),
    "q06_regex" -> OracleSql.regex("b.tch|sc.n", 1000),
    "q07_threshold" -> OracleSql.ftsThreshold(Seq("data", "merge"), 0.2, 1000),
    "q08_fetchone" -> OracleSql.fts(Seq("spark", "join"), 1),
    "q09_default_limit" -> OracleSql.fts(Seq("the"), SearchDefaults.DefaultLimit),
    "q10_facet" -> OracleSql.facetCounts(Seq("data")),
    "q11_fastfuzzy" -> OracleSql.fastFuzzy(Seq("mrege", "sortt"), 10),
    "q12_mlt" -> OracleSql.moreLikeThis(42L, 8, 10),
    "q13_dedup_exact" -> (
      "WITH all_docs AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50) " +
        Dedup.exactGroupsSqlDuck("all_docs", "doc_id", "text")),
    "q14_dedup_minhash" -> Dedup.minhashPairsSqlDuck("doc_id", "text"),
    "q15_dedup_ngram" -> Dedup.ngramJaccardPairsSqlDuck("doc_id", "text"),
    "q16_simhash" -> Dedup.simhashSqlDuck("doc_id", "text"),
    "q17_simhash_pairs" -> Dedup.simhashPairsSqlDuck("doc_id", "text"),
    "q46_simhash_pairs_bounded" ->
      Dedup.simhashPairsSqlDuck("doc_id", "text", maxBucket = 2),
    "q18_ann_brute" -> Similarity.bruteTopKSqlDuck("vec_id", "embedding"),
    "q19_ann_ivf" -> Similarity.ivfTopKSqlDuck("vec_id", "embedding"),
    "q56_ann_ivf_store" -> Similarity.ivfTopKSqlDuck("vec_id", "embedding"),
    "q20_cosine_dup" -> Similarity.cosineDupPairsSqlDuck("vec_id", "embedding"),
    "q30_lsh_cosine_dup" ->
      Similarity.lshCosineDupPairsSqlDuck("vec_id", "embedding", bandBits = 4),
    "q47_lsh_dedup_rep" ->
      Similarity.lshCosineDedupSqlDuck("vec_id", "embedding", bandBits = 4),
    "q48_lsh_dedup_closure" ->
      Similarity.lshCosineDedupResolvedSqlDuck("vec_id", "embedding", bandBits = 4),
    "q49_minhash_dedup" -> Dedup.minhashDedupSqlDuck("doc_id", "text"),
    "q31_array_pred" -> ("SELECT doc_id, n_chars FROM documents " +
      "WHERE list_contains([source, lang], 'en') AND n_chars > 400 ORDER BY doc_id LIMIT 100"),
    "q21_langid" -> TextStats.langIdSqlDuck("doc_id", "text"),
    "q36_langid_ngram" -> TextStats.langIdNgramSqlDuck("doc_id", "text"),
    "q22_quality" -> TextStats.qualitySqlDuck("doc_id", "text"),
    "q23_token_counts" -> TextStats.tokenCountsSqlDuck("doc_id", "text"),
    "q24_fingerprint" -> TextStats.fingerprintSqlDuck("doc_id", "text"),
    "q57_chunk" -> TextStats.chunkSqlDuck("doc_id", "text"),
    "q58_pack_bins" -> TextStats.packBinsSqlDuck("doc_id", "text"),
    "q25_multimodal_meta" -> Multimodal.decodeMetaSqlDuck("doc_id", "text"),
    "q34_media_decode" -> Multimodal.decodeMediaSqlDuck("doc_id"),
    "q41_frame_sample" -> Multimodal.sampleFramesSqlDuck("doc_id"),
    "q42_resize_plan" -> Multimodal.resizePlanSqlDuck("doc_id"),
    "q55_png_pixels" -> Multimodal.pixelStatsSqlDuck("doc_id"),
    "q26_upsert" -> """WITH v1 AS (SELECT doc_id, text, 1::BIGINT AS version FROM documents),
      |v2 AS (SELECT doc_id, text || ' v2' AS text, 2::BIGINT AS version FROM documents WHERE doc_id < 50),
      |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM u)
      |SELECT doc_id, version, md5(text) AS content_md5 FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q27_update" -> ("SELECT lang, count(*)::BIGINT AS cnt FROM (SELECT CASE WHEN n_chars < 100 " +
      "THEN 'xx' ELSE lang END AS lang FROM documents) GROUP BY lang ORDER BY lang"),
    "q28_delete" -> ("SELECT source, count(*)::BIGINT AS cnt FROM documents " +
      "WHERE source <> 'src0' GROUP BY source ORDER BY source"),
    "q29_projection" -> ("SELECT doc_id, n_chars FROM documents " +
      "WHERE lang = 'en' AND n_chars BETWEEN 100 AND 300 ORDER BY doc_id"),
    "q40_msgpack_ingest" -> ("SELECT doc_id, lang, source, n_chars FROM documents " +
      "WHERE doc_id < 20 ORDER BY doc_id"),
    "q44_ip_range" ->
      """WITH t AS (SELECT doc_id,
        |             (CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 10 END)::BIGINT AS a,
        |             (doc_id * 7) % 256 AS b, doc_id % 100 AS d
        |           FROM documents WHERE doc_id < 200)
        |SELECT doc_id, a::VARCHAR || '.' || b::VARCHAR || '.0.' || d::VARCHAR AS addr
        |FROM t WHERE a * 16777216 + b * 65536 + d > 9 * 16777216 + 200 * 65536
        |ORDER BY doc_id""".stripMargin,
    // delete-by-query: fts match = any analyzed token of the doc equals
    // a query token (BM25 scores are strictly positive); the column
    // predicate conjoins. Remaining rows aggregate per source.
    "q52_delete_by_query" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${graft.analyze.Analyzer.tokensSqlDuck("text")}) AS term
         |             FROM documents),
         |matched AS (SELECT DISTINCT tok.doc_id FROM tok
         |            JOIN documents d USING (doc_id)
         |            WHERE tok.term IN ('merge', 'sort') AND d.n_chars < 300)
         |SELECT source, count(*)::BIGINT AS cnt FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM matched)
         |GROUP BY source ORDER BY source""".stripMargin,
    // store-level delete-by-query + compact: BM25 over the live subset
    // with stats recomputed from it (compaction derives N/df/avgdl from
    // the merged live postings)
    "q53_store_delete_by_query" ->
      s"""WITH dtok AS (SELECT doc_id, unnest(${graft.analyze.Analyzer.tokensSqlDuck("text")}) AS term
         |              FROM documents),
         |del AS (SELECT DISTINCT doc_id FROM dtok WHERE term = 'merge'),
         |live AS (SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |${OracleSql.scaffoldOver("live")},
         |${OracleSql.qtValues(Seq(("sort", 1.0, 0)))},
         |${OracleSql.scorer}
         |${OracleSql.topK(10, 1)}""".stripMargin)
}
