package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * processed in batches via `mapPartitions` (the Scala-side equivalent
  * of a Pandas-UDF `mapInPandas` stage).
  *
  * The decode step is a clearly-marked DETERMINISTIC STUB — this
  * container has no image/audio codecs — but everything around it is
  * real and tested: the schema, the partitioning, the batched iterator
  * shape, and the typed Dataset boundary a real decoder would slot
  * into.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
                           checksum: Long, embedding: Array[Float])

  /** Synthesize a media table: text bytes as the opaque payload, with a
    * media type per doc (the real pipeline would read binary columns
    * from parquet the same way).
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Batched "decode": iterates fixed-size batches per partition, the
    * way a real decoder amortizes model/codec setup per batch.
    */
  def decodeFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // --- STUB: a real implementation would decode image/audio/video
        // here (libs unavailable in this container). FNV-1a over the
        // payload stands in as a deterministic "feature extractor".
        batch.map { r =>
          val checksum = r.payload.foldLeft(-3750763034362895579L) { (h, b) =>
            (h ^ (b & 0xffL)) * 1099511628211L
          }
          val emb = Array.tabulate(8)(i => ((checksum >>> (i * 8)) & 0xff).toFloat / 255f)
          MediaFeatures(r.doc_id, r.media_type, r.payload.length, checksum, emb)
        }
      }
    }
  }

  /** EXACT MEDIA DEDUP — the first pass every image/audio corpus runs
    * (identical bytes re-crawled under different ids): group the
    * binary payloads by their md5 and report every duplicate cluster
    * with its keeper (min doc_id) and copy count. The corpus is
    * augmented with a DETERMINISTIC "re-crawl" replica (every 25th
    * payload re-ingested under doc_id+10⁷ — the injected-marker
    * discipline of piiScrub/lineDedup) so duplicate clusters exist at
    * every test scale and the oracle replays the same injection.
    *
    * Scale shape: one shuffle keyed on the 128-bit content hash with
    * map-side partial counts — [[Dedup.exact]]'s plan applied to
    * binary columns; payloads never leave the scan stage (only their
    * md5 shuffles), which is what makes this viable when payloads are
    * megabytes.
    */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir).toDF()
    val recrawl = media.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    media.unionByName(recrawl)
      .select(col("doc_id"), md5(col("payload")).as("media_md5"))
      .groupBy(col("media_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .filter(col("n_copies") > 1)
      .orderBy(col("media_md5"))
  }

  /** NEAR-DUP MEDIA DEDUP — the similarity pass an LLM multimodal
    * pipeline runs after [[mediaDedup]]'s exact pass (re-encoded /
    * lightly-edited media share most bytes but not their md5): 64-bit
    * SimHash over sliding BYTE SHINGLES of the payload (window-byte
    * windows every `stride` bytes, taken as hex substrings — all
    * codegen'd builtins), banded 4 × 16 bits for candidate buckets,
    * hamming ≤ `maxHamming` on the full signature to verify — the
    * [[Dedup.simhash]] discipline applied to binary input.
    *
    * Scale shape: one signature per payload (constant size regardless
    * of media size), candidates via a band equi-join — never all-pairs
    * — and verification is one `bit_count(a^b)` per candidate; the
    * payload bytes never leave the scan stage, only the 64-bit
    * signature shuffles (the [[mediaDedup]] megabyte-payload rule).
    *
    * The corpus is augmented with a deterministic NEAR-copy replica
    * (every 25th payload re-ingested with 4 bytes appended under
    * doc_id+2·10⁷ — a light edit, not a byte-identical re-crawl) so
    * near-dup structure exists at every test scale. Signatures are
    * xxhash64-dependent → no SQL oracle; rows-only + spec (recall on
    * the injected near-copies, no all-pairs join in the plan).
    */
  def mediaNearDup(spark: SparkSession, dir: String, window: Int = 8,
                   stride: Int = 4, maxHamming: Int = 10): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val media = mediaTable(spark, dir).toDF()
    val nearCopy = media.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 20000000L)
      .withColumn("payload",
        concat(col("payload"),
          encode(substring(md5(col("doc_id").cast("string")), 1, 4), "UTF-8")))
    val hexed = media.unionByName(nearCopy)
      .select(col("doc_id"), hex(col("payload")).as("hx"))
    // sliding byte windows as hex substrings (2 hex chars per byte)
    val nWin = greatest(lit(1),
      ((length(col("hx")) / 2 - window) / stride + 1).cast("int"))
    val shingles = transform(sequence(lit(0), nWin - 1),
      i => col("hx").substr(i * stride * 2 + 1, lit(window * 2)))
    val sigs = hexed
      .select(col("doc_id"), call_function("graft_simhash", shingles).as("bits"))
    val bandVal = (k: Int) =>
      call_function("shiftrightunsigned", col("bits"), lit(k * 16)).bitwiseAND(lit(0xffffL))
    // self-joined below
    val buckets = graft.SessionCaches.cacheOnce(sigs.select(col("doc_id"), col("bits"),
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("band"), bandVal(k).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("bits"), col("bb.band").as("band"), col("bb.bv").as("bv")))
    val hamming = bit_count(col("a.bits").bitwiseXOR(col("b.bits")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"), hamming.as("hamming"))
      // verify-first (the Dedup.embeddingPairs rule): the hamming check
      // is one codegen'd integer op per occurrence — run it BEFORE the
      // dedup so the distinct exchange carries survivors only (same
      // pair set either way)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("da"), col("db"))
  }

  /** End-to-end pipeline aggregate. Byte counts survive the
    * decode stage untouched, so this is oracle-checkable against
    * DuckDB's strlen over the source text.
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(mediaTable(spark, dir)).toDF()
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_bytes")).as("total_bytes"))
      .orderBy(col("media_type"))

  case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: Long)

  /** Frame sampling: each "video" payload fans out into up to
    * `maxFrames` fixed-stride chunks — the 1:N batch shape of real
    * frame extraction (ffmpeg unavailable; the chunking IS the stub,
    * the fan-out/schema/batching are the real plumbing). Frame sizes
    * are pure byte arithmetic, so the contract query is
    * oracle-checkable from strlen alone.
    */
  def frameSample(media: Dataset[MediaRow], chunk: Int = 256,
                  maxFrames: Int = 8, batchSize: Int = 64): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.media_type == "video").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val n = math.min(maxFrames.toLong, (r.payload.length + chunk - 1L) / chunk).toInt
          (0 until n).map { i =>
            val from = i * chunk
            val until = math.min(from + chunk, r.payload.length)
            var h = -3750763034362895579L
            var j = from
            while (j < until) { h = (h ^ (r.payload(j) & 0xffL)) * 1099511628211L; j += 1 }
            Frame(r.doc_id, i, until - from, h)
          }
        }
      }
    }
  }

  /** Fixed-size "resize": every payload mapped to exactly `w*h` bytes
    * (truncate/cycle — the stub for a real bilinear resize), same 1:1
    * batched shape as [[decodeFeatures]]. Spec asserts the output size
    * invariant and determinism.
    */
  def resizeStub(media: Dataset[MediaRow], w: Int = 16, h: Int = 16): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    val target = w * h
    media.mapPartitions { it =>
      it.map { r =>
        val out = Array.tabulate[Byte](target) { i =>
          if (r.payload.isEmpty) 0 else r.payload(i % r.payload.length)
        }
        r.copy(payload = out)
      }
    }
  }

  /** Contract query: per-video frame inventory. */
  def frames(spark: SparkSession, dir: String): DataFrame =
    frameSample(mediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_bytes"))
      .orderBy(col("doc_id"), col("frame_idx"))
}
