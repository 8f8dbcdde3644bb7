package graft.index

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexStore._

/** manifest.json is the store's whole metadata, so it must round-trip
  * every value exactly: text with quotes, backslashes, newlines, the
  * ASCII unit/record separators session column defs are encoded with,
  * and non-BMP characters; longs at their extremes; nested doc schemas.
  * Seeded and deterministic, like PropertySpec.
  */
class ManifestSpec extends AnyFunSuite {

  private val seed0 = rng.Seed(20261017L)

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    var seed = seed0
    (0 until n).map { _ =>
      val r = g.doPureApply(Gen.Parameters.default, seed)
      seed = r.seed
      r.retrieve.get
    }
  }

  private val text: Gen[String] = Gen.listOf(Gen.frequency(
    (6, Gen.alphaNumChar.map(_.toString)),
    (2, Gen.oneOf("\"", "\\", "\n", "\r", "\t", "\u001F", "\u001E", "\u0000", "'", "{", "}",
      ":", ",", "/", " ")),
    (2, Gen.oneOf("é", "ß", "日本", "😀", "", " ")))).map(_.mkString)

  private val long: Gen[Long] =
    Gen.frequency((4, Gen.choose(0L, 1L << 40)), (1, Gen.oneOf(0L, Long.MaxValue, Long.MinValue)))
  private val int: Gen[Int] =
    Gen.frequency((4, Gen.choose(0, 1 << 20)), (1, Gen.oneOf(Int.MaxValue, Int.MinValue)))
  private val textMap: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(text, text))

  private val epochGen = for {
    e <- int; p <- text; n <- long; b <- long; end <- long; f <- text; t <- long
  } yield EpochMeta(e, p, n, b, end, f, t)

  private val configGen = for {
    keys <- Gen.listOf(text); fields <- Gen.listOf(text); sd <- int; bp <- int
    ff <- Gen.oneOf(true, false); toks <- textMap; av <- int; strategy <- text
  } yield ConfigRow(keys, fields, sd, bp, ff, toks, av, strategy)

  private val checkpointGen = for (e <- int; id <- text; at <- long) yield CheckpointRow(e, id, at)

  private val segmentGen = for {
    path <- text
    pairs <- Gen.listOf(for {
      docs <- text; postings <- Gen.option(text); from <- long; until <- long
    } yield FilePair(docs, postings, from, until))
  } yield SegmentFiles(path, pairs)

  private def typeGen(depth: Int): Gen[DataType] = {
    val leaf = Gen.oneOf(LongType, IntegerType, StringType, DoubleType, BooleanType,
      BinaryType, DateType, TimestampType, FloatType)
    if (depth == 0) leaf
    else Gen.frequency(
      (4, leaf),
      (1, Gen.zip(typeGen(depth - 1), Gen.oneOf(true, false)).map { case (t, n) => ArrayType(t, n) }),
      (1, Gen.zip(typeGen(depth - 1), Gen.oneOf(true, false))
        .map { case (t, n) => MapType(StringType, t, n) }),
      (1, structGen(depth - 1)))
  }

  private def structGen(depth: Int): Gen[StructType] =
    Gen.listOf(Gen.zip(text, typeGen(depth), Gen.oneOf(true, false)))
      .map(fs => StructType(fs.map { case (name, t, n) => StructField(name, t, n) }))

  private val manifestGen: Gen[(Manifest, StructType)] = for {
    epochs <- Gen.listOf(epochGen)
    config <- configGen
    cps <- Gen.listOf(checkpointGen)
    tombs <- Gen.listOf(Gen.zip(int, long).map { case (e, r) => TombstoneDir(e, r) })
    kv <- textMap
    schema <- structGen(2)
    segments <- Gen.listOf(segmentGen)
  } yield (Manifest(ManifestFormat, epochs, config, cps, tombs, kv, schema.json, segments), schema)

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("graftmanifest").toString

  test("property: every manifest field survives write -> read exactly") {
    val dir = tmpDir()
    samples(manifestGen, 200).zipWithIndex.foreach { case ((m, schema), i) =>
      val v = i + 1
      IndexStore.writeManifestFile(dir, v, m)
      val back = IndexStore.readManifestFile(dir, v)
      assert(back === m, s"manifest v$v")
      assert(DataType.fromJson(back.docSchema) === schema, s"doc schema v$v")
    }
  }

  test("property: an uncommitted ghost manifest at vN+1 is never adopted") {
    samples(Gen.zip(manifestGen, manifestGen), 20).foreach { case ((live, _), (ghost, _)) =>
      val dir = tmpDir()
      // v1 committed; then a writer crashed after writing v2's
      // manifest.json but before the LATEST swap
      IndexStore.writeManifestFile(dir, 1, live)
      IndexStore.commitVersion(dir, 1)
      IndexStore.writeManifestFile(dir, 2, ghost)
      assert(IndexStore.currentVersion(dir) === 1)
      assert(IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir)) === live)
      // the next committed write of v2 replaces the ghost outright
      IndexStore.writeManifestFile(dir, 2, live.copy(kv = Map("next" -> "commit")))
      IndexStore.commitVersion(dir, 2)
      assert(IndexStore.readManifestFile(dir, 2) === live.copy(kv = Map("next" -> "commit")))
    }
  }

  test("a manifest of another format fails loudly and names rebuild") {
    val dir = tmpDir()
    val (m, _) = samples(manifestGen, 1).head
    IndexStore.writeManifestFile(dir, 1, m.copy(format = ManifestFormat + 1))
    val ex = intercept[IllegalStateException](IndexStore.readManifestFile(dir, 1))
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }
}
