package graft.operators

import graft.SparkSpec
import graft.core.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

/** Every at-rest store reads only the layout its installer writes: with
  * `formatVersion` missing from `_meta.json`, or bumped past the one
  * this build reads, each entry point that reads the meta refuses the
  * store with an error naming the installer, and a refused append lands
  * no file. */
class StoreFormatSpec extends SparkSpec {
  import spark.implicits._

  /** One entry point that reads a store's `_meta.json`; `append` marks
    * the ones that would land files. */
  private case class Entry(name: String, append: Boolean, run: String => Unit)

  private case class Store(installer: String, version: Int,
                           install: String => Unit, entries: Seq[Entry])

  private def docs = Seq(
    (1L, "siteA", "the quick brown fox jumps over the lazy dog again"),
    (2L, "siteA", "the quick brown fox jumps over the lazy dog twice"),
    (3L, "siteB", "an unrelated document about something else entirely"),
    (4L, "siteB", "cookie banner click accept now and read the story"))
    .toDF("doc_id", "source", "text")

  private def batch = Seq(
    (11L, "siteA", "the quick brown fox jumps over the lazy dog once"),
    (12L, "siteB", "a fresh document with words nobody has seen before"))
    .toDF("doc_id", "source", "text")

  private def stream = {
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
  }

  private def scratch(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def grayPpm(seed: Int): Array[Byte] =
    Ppm.encode(16, 8, Array.tabulate(3 * 16 * 8)(i => ((i / 3 * seed + 5) % 200).toByte))

  private def vectors = Tables.embeddings(spark, sf).filter($"vec_id" < 40)

  private val stores = Seq(
    Store("writeFpStore", 2,
      dir => Dedup.writeFpStore(docs, "doc_id", "text", dir, expectedTotalFps = 100L),
      Seq(
        Entry("incrementalExactDedupFromFpStore", false,
          dir => Dedup.incrementalExactDedupFromFpStore(batch, dir, "doc_id", "text")),
        Entry("appendToFpStore", true, dir => Dedup.appendToFpStore(
          batch.select(TextAnalysis.fingerprint($"text").as("fp")), dir, 1L)),
        Entry("compactFpStore", false, dir => Dedup.compactFpStore(spark, dir)),
        Entry("compactFpStoreSidecars", false,
          dir => Dedup.compactFpStoreSidecars(spark, dir)))),
    Store("writeNearDupStore", 3,
      dir => Dedup.writeNearDupStore(docs, "doc_id", "text", dir),
      Seq(
        Entry("incrementalNearDupFromStore", false,
          dir => Dedup.incrementalNearDupFromStore(batch, dir, "doc_id", "text")),
        Entry("appendToNearDupStore", true,
          dir => Dedup.appendToNearDupStore(batch, dir, "doc_id", "text", 1L)),
        Entry("compactNearDupStore", false,
          dir => Dedup.compactNearDupStore(spark, dir)),
        Entry("streamingNearDupIngest", false, dir =>
          EventStream.streamingNearDupIngest(stream, dir, scratch("kept"),
            "doc_id", "text")))),
    Store("writeBoilerplateStore", 1,
      dir => Dedup.writeBoilerplateStore(docs, "doc_id", "text", "source", dir),
      Seq(
        Entry("appendToBoilerplateStore", true, dir =>
          Dedup.appendToBoilerplateStore(batch, dir, "doc_id", "text", "source", 1L)),
        Entry("removeBoilerplateFromStore", false, dir =>
          Dedup.removeBoilerplateFromStore(batch, dir, "doc_id", "text", "source")))),
    Store("writeEvalGramStore", 2,
      dir => Dedup.writeEvalGramStore(docs, "text", dir),
      Seq(
        Entry("appendToEvalGramStore", true,
          dir => Dedup.appendToEvalGramStore(batch, "text", dir, 1L)),
        Entry("decontaminateRewriteFromStore", false,
          dir => Dedup.decontaminateRewriteFromStore(batch, dir, "doc_id", "text")),
        Entry("compactEvalGramStore", false,
          dir => Dedup.compactEvalGramStore(spark, dir)),
        Entry("streamingDecontamIngest", false, dir =>
          EventStream.streamingDecontamIngest(stream, dir, scratch("kept"),
            "doc_id", "text")))),
    Store("writeBm25Index", 2,
      dir => TextAnalysis.writeBm25Index(docs, dir, buckets = 4),
      Seq(
        Entry("appendToBm25Index", true,
          dir => TextAnalysis.appendToBm25Index(batch, dir, 1L)),
        Entry("bm25TopKFromIndex", false, dir => TextAnalysis.bm25TopKFromIndex(
          dir, batch.select($"doc_id".as("q_id"), $"text".as("q_text")), 3)))),
    Store("writeBigramLmStore", 1,
      dir => TextAnalysis.writeBigramLmStore(docs, "text", dir),
      Seq(
        Entry("bigramLogProbFromStore", false,
          dir => TextAnalysis.bigramLogProbFromStore(batch, dir, "doc_id", "text")),
        Entry("streamingLmScoreIngest", false, dir =>
          EventStream.streamingLmScoreIngest(stream, dir, scratch("out"),
            "doc_id", "text")))),
    Store("installPqIndex", 1,
      dir => Similarity.writePqIndex(vectors, dir, dim = 64, m = 8, k = 8),
      Seq(
        Entry("loadPqCodebooks", false, dir => Similarity.loadPqCodebooks(spark, dir)),
        Entry("appendToPqIndex", true,
          dir => Similarity.appendToPqIndex(vectors, dir, 1L)),
        Entry("pqTopKFromIndex", false,
          dir => Similarity.pqTopKFromIndex(dir, vectors, vectors, 3)),
        Entry("incrementalReembedPq", true, dir => Similarity.incrementalReembedPq(
          docs, batch, _ => vectors, dir, 1L, "doc_id", "text")))),
    Store("writeImageNearDupStore", 2,
      dir => Multimodal.writeImageNearDupStore(
        Seq((100L, grayPpm(53)), (101L, grayPpm(91))).toDF("media_id", "bytes"), dir),
      Seq(
        Entry("appendToImageNearDupStore", true, dir =>
          Multimodal.appendToImageNearDupStore(
            Seq((1L, grayPpm(197))).toDF("media_id", "bytes"), dir, 1L)),
        Entry("incrementalImageNearDup", false, dir =>
          Multimodal.incrementalImageNearDup(
            Seq((1L, grayPpm(197))).toDF("media_id", "bytes"), dir))))
  )

  /** Every file under `dir`, relative, with its length. */
  private def listing(dir: String): Set[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toSet
    finally walk.close()
  }

  stores.foreach { store =>
    import store.{installer, version}
    test(s"$installer: every meta-reading entry point refuses a store " +
         "whose formatVersion is missing or bumped") {
      val dir = scratch("storeformat")
      store.install(dir)
      val meta = graft.sources.Sources.readJsonSidecarFs(spark, s"$dir/_meta.json")
      assert(meta.get("formatVersion").contains(version.toString),
        s"$installer must write formatVersion $version: $meta")
      val variants = Seq(
        "missing" -> (meta - "formatVersion"),
        "bumped" -> (meta + ("formatVersion" -> (version + 1).toString)))
      variants.foreach { case (variant, rewritten) =>
        graft.sources.Sources.writeJsonSidecarFs(spark, s"$dir/_meta.json", rewritten)
        store.entries.foreach { e =>
          val before = listing(dir)
          val ex = intercept[IllegalArgumentException](e.run(dir))
          assert(ex.getMessage.contains(installer) &&
            ex.getMessage.contains("formatVersion"),
            s"${e.name} on a $variant formatVersion: ${ex.getMessage}")
          if (e.append)
            assert(listing(dir) == before,
              s"${e.name} on a $variant formatVersion landed files")
        }
      }
      spark.catalog.clearCache()
    }
  }
}
