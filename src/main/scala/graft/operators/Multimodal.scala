package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (SURVEY §2.11): media travel as opaque
  * `BINARY` payload columns with typed metadata beside them; decode /
  * feature-extraction runs batched per partition so a real codec (image
  * decoder, audio resampler) would amortize model/codec init per partition,
  * not per row — the standard Spark shape for this.
  *
  * The actual byte-decode step is a STUB (this environment has no media
  * libraries): [[stubDecode]] derives deterministic fake features from the
  * bytes. The Spark-side plumbing — schema, binary payloads, partition-batched
  * execution, feature struct — is real and tested; swap [[stubDecode]] for a
  * codec call to productionize.
  */
object Multimodal {

  /** Feature row produced per media payload. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", IntegerType),
    StructField("head_hex", StringType),
    StructField("content_hash", LongType)))

  /** STUB decode: deterministic features of the payload bytes. A real
    * implementation would decode the media and emit e.g. width/height/
    * duration/embedding here.
    */
  def stubDecode(payload: Array[Byte]): (Int, String) =
    (payload.length, payload.take(8).map("%02X".format(_)).mkString)

  /** Wrap a text table as a media table: payload = UTF-8 bytes (stand-in for
    * image/audio blobs), metadata columns alongside.
    */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast(LongType).as("doc_id"),
      lit("text/plain").as("media_type"),
      col(textCol).cast(BinaryType).as("payload"))

  /** Fixed-size chunk layout over the BINARY payload, one hex-encoded row
    * per chunk — shared by the chunking (m02) and frame-sampling (m04)
    * surfaces so the chunk-size/offset math lives in one place. Pure
    * codegen (`sequence` explode + `substring`/`hex`).
    *
    * The payload BYTES are sliced first and only the slice is hex-encoded:
    * byte offsets are bounded by the JVM array limit (< 2³¹), so the int
    * offset cast can never overflow — unlike slicing the hex STRING, whose
    * doubled length tops Int.MaxValue for payloads over ~1 GiB (and which
    * re-encoded the whole payload once per chunk row).
    */
  def hexChunks(media: DataFrame, chunkBytes: Int = 64): DataFrame = {
    media
      .withColumn("n_chunks",
        ceil(octet_length(col("payload")) / lit(chunkBytes.toDouble)).cast("long"))
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        hex(expr(s"substring(payload, cast(chunk_no*$chunkBytes+1 as int), $chunkBytes)"))
          .as("chunk_hex"))
  }

  /** Byte-level header parsing over the BINARY payload — REAL (not stubbed):
    * two big-endian u32 fields from the payload's first 8 bytes, the exact
    * shape of pulling width/height (PNG IHDR), sample-rate/channels (WAV), or
    * frame counts out of a media header without decoding the body. Pure
    * codegen expressions (`hex` + `conv` + `substring`), no UDF — header
    * sniffing at 100 TB never leaves the scan stage.
    */
  def parseHeaderU32(media: DataFrame): DataFrame =
    media.filter(octet_length(col("payload")) >= 8)
      .select(col("doc_id"),
        conv(substring(hex(col("payload")), 1, 8), 16, 10).cast(LongType).as("hdr_a"),
        conv(substring(hex(col("payload")), 9, 8), 16, 10).cast(LongType).as("hdr_b"))

  /** Exact binary dedup by cryptographic content hash — the media twin of
    * the text exact-dedup (Dedup.exactDedup): group payloads on
    * `sha2(payload, 256)`, keep the lowest doc_id as survivor, report the
    * group size. One shuffle on the 64-hex-char digest (256-bit collision
    * space — safe to treat hash equality as byte equality at any corpus
    * size, which is the point: 100 TB of media never compares bodies
    * pairwise). The digest, not the payload, is the shuffle key AND the only
    * carried column — shuffle volume is O(rows × 64 B) regardless of
    * payload size.
    */
  def dedupByContent(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), sha2(col("payload"), 256).as("content_sha256"),
        octet_length(col("payload")).cast(LongType).as("n_bytes"))
      .groupBy(col("content_sha256"), col("n_bytes"))
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_copies"))

  /** Chunk-level dedup statistics — the storage-dedup view of a media
    * corpus: how much of each blob is bytes already stored elsewhere. Each
    * payload's fixed-size chunks ([[hexChunks]] — the m02 layout, so the
    * chunk math lives in one place) are digested with SHA-256 and each
    * digest's FIRST occurrence in (doc_id, chunk_no) order is the canonical
    * copy; every later occurrence is a dup. Returns per doc:
    * (doc_id, n_chunks, n_dup_chunks).
    *
    * Scale shape: the payload is chunked and digested inside the scan
    * stage; only (doc_id, chunk_no, 32-byte digest) rows ever shuffle —
    * once on the digest for the first-occurrence ranking, once on doc_id
    * for the rollup — so shuffle volume is O(chunks), independent of blob
    * size. Fixed-size chunking is the deliberate baseline (deterministic,
    * cheapest boundary math); [[gearChunks]] is the content-defined
    * alternative that raises the dedup hit rate on shifted payloads and
    * slots into this same digest→rank→rollup plan.
    */
  def chunkDedupStats(media: DataFrame, chunkBytes: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest")).orderBy(col("doc_id"), col("chunk_no"))
    hexChunks(media, chunkBytes)
      .select(col("doc_id"), col("chunk_no"),
        sha2(unhex(col("chunk_hex")), 256).as("digest"))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  /** Blob-level NEAR-dup pairs from shared content chunks — the media twin
    * of the text n-gram Jaccard (Dedup.ngramJaccardPairs): two blobs are
    * near-dups when the Jaccard of their DISTINCT chunk-digest sets clears
    * `threshold` (shifted or partially-overwritten copies that exact
    * content dedup — dedupByContent — misses, as long as shared runs stay
    * chunk-aligned; content-defined chunking would lift the alignment
    * caveat, see [[chunkDedupStats]]). The digest IS the candidate join
    * key: pairs form only inside digest buckets, never all-pairs, and only
    * (doc_id, 32-byte digest) rows shuffle — O(chunks) wire volume however
    * large the blobs. Hub digests (a chunk shared by thousands of blobs —
    * zero-fill, codec padding) would explode the bucket join exactly like
    * d02's hub shingles; the d07 df-cut composes here unchanged if a
    * corpus grows them (this corpus maxes at df=3). Returns
    * (id_a < id_b, inter, sz_a, sz_b, jaccard ≥ threshold).
    */
  def chunkJaccardPairs(media: DataFrame, threshold: Double = 0.5,
                        chunkBytes: Int = 64): DataFrame =
    jaccardFromDigests(chunkDigestSet(media, "doc_id", chunkBytes), threshold)

  /** The [[SetOverlap.selfPairs]] → Jaccard tail shared by the fixed-size
    * (m07) and content-defined (m12) pair surfaces — the chunker is the
    * only difference between them, so the pairing semantics cannot drift.
    */
  private def jaccardFromDigests(digests: DataFrame,
                                 threshold: Double): DataFrame =
    SetOverlap.selfPairs(digests, "doc_id", "digest")
      .withColumn("jaccard", SetOverlap.jaccard("inter", "sz_a", "sz_b"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")

  /** Content-defined (gear rolling-hash) chunk layout — the
    * [[hexChunks]] contract with data-dependent boundaries
    * ([[graft.functions.GearChunkEnds]]: cut where the low `maskBits`
    * bits of the rolling hash are zero, expected chunk 2^maskBits bytes).
    * Fixed-size chunking detects shared content only when it stays
    * chunk-ALIGNED; gear boundaries move with the bytes, so a one-byte
    * insertion re-chunks a single chunk and everything after the next cut
    * digests identically — the m12 shifted-copy case. Boundary scan runs
    * in the scan stage (one codegen byte loop per blob); downstream is
    * byte-for-byte the m02 layout, so every digest consumer composes
    * unchanged.
    */
  def gearChunks(media: DataFrame, maskBits: Int = 6, minSize: Int = 1,
                 maxSize: Int = Int.MaxValue): DataFrame = {
    // Shape adjudicated by measurement (round 12, 10× smoke): slice per
    // chunk in CODEGEN after the explode — posexplode(ends) then
    // substring+hex in the same whole-stage-codegen stage, 0.8 s at 10× —
    // rather than a transform-over-ends HOF before the explode (lambdas
    // are interpreted per element: 10.0 s at 10×, 12× slower, whether the
    // hex runs inside the lambda or is hoisted). The payload column on
    // each generated row is a TRANSIENT copy inside one codegen stage
    // (rows stream; nothing shuffles wide), so peak memory does not scale
    // with payload × chunk count — r11's one 45.6 s/1.86 s-GC rep that
    // motivated the HOF shape was host contention (the round-12 learned
    // floor machinery shows flat GC on every trusted rep of this shape).
    // NOT width-pinned (optimization r21, measured): repartitioning the
    // payload-carrying media rows to core width costs a full shuffle of
    // the bytes for a projection evaluated ONCE — m12/m13/m14 read 1.3–2×
    // SLOWER with the pin than at scan width. The width-pin pattern pays
    // on narrow rows reused across iterations (Similarity.kmeansCentroids);
    // payload scans parallelize by split size instead.
    gearSpans(media, maskBits, minSize, maxSize, Seq("payload"))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        hex(substring(col("payload"), col("st").cast("int"),
          (col("en") - col("st") + 1).cast("int"))).as("chunk_hex"))
  }

  /** The gear chunk SPANS alone — (doc_id, chunk_no, st, en), 1-based
    * inclusive byte bounds. This is the boundary primitive the bounded
    * form's oracle consumes (the aux-dump contract: bounds make cut
    * eligibility sequential, so DuckDB takes the spans as given and
    * re-derives everything downstream — byte slices, digests, Jaccard —
    * itself; the boundary algorithm is pinned by the plain-Scala spec
    * replica instead).
    */
  def gearChunkSpans(media: DataFrame, maskBits: Int = 6, minSize: Int = 1,
                     maxSize: Int = Int.MaxValue): DataFrame =
    gearSpans(media, maskBits, minSize, maxSize, Nil)
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        col("st"), col("en"))

  /** Gear boundaries exploded to one row per chunk — (doc_id, `carry`...,
    * ends, chunk_no, en, st) with 1-based inclusive byte bounds. `carry`
    * names the input columns that ride the explode; the payload is
    * consumed by the boundary scan and dropped before it unless carried.
    */
  private def gearSpans(media: DataFrame, maskBits: Int, minSize: Int,
                        maxSize: Int, carry: Seq[String]): DataFrame = {
    val ends = graft.functions.NativeFunctions.gearChunkEnds(
      media.sparkSession, col("payload"), maskBits, minSize, maxSize)
    val keep = ("doc_id" +: carry).map(col)
    media.filter(octet_length(col("payload")) > 0)
      .select(keep :+ ends.as("ends"): _*)
      .select(keep ++ Seq(col("ends"),
        posexplode(col("ends")).as(Seq("chunk_no", "en"))): _*)
      .withColumn("st",
        when(col("chunk_no") === 0, lit(1L))
          .otherwise(element_at(col("ends"), col("chunk_no")) + 1))
  }

  /** Blob near-dup pairs over the content-defined chunk layout — the m07
    * contract with the alignment caveat lifted: a byte-SHIFTED copy pairs
    * with its original because gear boundaries re-synchronize after the
    * edit (the case fixed-size chunking provably misses). Same digest
    * bucket join, same O(chunks) wire volume, same hub-digest/df-cut
    * story as [[chunkJaccardPairs]].
    */
  def gearChunkJaccardPairs(media: DataFrame, threshold: Double = 0.5,
                            maskBits: Int = 6, minSize: Int = 1,
                            maxSize: Int = Int.MaxValue): DataFrame =
    jaccardFromDigests(gearDigestSet(media, "doc_id", maskBits, minSize,
      maxSize), threshold)

  /** Per-blob DISTINCT fixed-size chunk digest rows (`idAs`, digest) — the
    * media family's key set for [[SetOverlap]]: SHA-256 over each
    * [[hexChunks]] slice's bytes.
    */
  def chunkDigestSet(media: DataFrame, idAs: String,
                     chunkBytes: Int = 64): DataFrame =
    hexChunks(media, chunkBytes)
      .select(col("doc_id").as(idAs),
        sha2(unhex(col("chunk_hex")), 256).as("digest"))
      .distinct()

  /** Per-blob DISTINCT gear-chunk digest rows (id, digest) — the CDC
    * counterpart of [[chunkDigestSet]]; the digest is sha2 over the chunk
    * BYTES (hex round-tripped through [[gearChunks]], so it is
    * bit-identical to digesting the slice directly).
    */
  def gearDigestSet(media: DataFrame, idAs: String, maskBits: Int = 6,
                    minSize: Int = 1, maxSize: Int = Int.MaxValue): DataFrame =
    gearChunks(media, maskBits, minSize, maxSize)
      .select(col("doc_id").as(idAs),
        sha2(unhex(col("chunk_hex")), 256).as("digest"))
      .distinct()

  /** m12's daily-ingest shape (m14): FRESH blobs screen against the
    * standing corpus through the GEAR digest probe join — fresh-vs-corpus
    * pairs only, never corpus self-pairs, per-ingest pair work ∝ the
    * batch's digest hits. Content-defined boundaries re-synchronize after
    * an edit, so a byte-shifted ingest copy still pairs with its standing
    * original — the live dedup case fixed-size chunk screens (m09)
    * provably miss. Same [[SetOverlap.screen]] as m09: digest-bucketed
    * candidates, exact Jaccard over distinct chunk sets, O(chunks) wire.
    */
  def incrementalGearChunkPairs(fresh: DataFrame, corpus: DataFrame,
                                threshold: Double = 0.5, maskBits: Int = 6,
                                minSize: Int = 1,
                                maxSize: Int = Int.MaxValue): DataFrame = {
    val corpusD = Caching.persisted(
      gearDigestSet(corpus, "corpus_id", maskBits, minSize, maxSize))
    SetOverlap.screen(gearDigestSet(fresh, "fresh_id", maskBits, minSize, maxSize),
      corpusD, SetOverlap.sizes(corpusD, "corpus_id", "sz_c"), "digest", threshold)
  }

  /** Build (idempotently, catalog-checked) a standing GEAR digest index —
    * [[writeChunkIndex]]'s CDC counterpart: the corpus chunks ONCE through
    * the codegen [[gearChunks]] path, distinct (doc_id, digest) rows land
    * bucketed by digest, per-doc sizes bucketed by doc_id.
    */
  def writeGearChunkIndex(corpus: DataFrame, index: ChunkIndex,
                          maskBits: Int = 6, minSize: Int = 1,
                          maxSize: Int = Int.MaxValue,
                          buckets: Int = 16): ChunkIndex = {
    SetOverlap.writeIndex(corpus.sparkSession, index.digests, index.sizes,
      "sz_c", buckets)(gearDigestSet(corpus, "doc_id", maskBits, minSize, maxSize))
    index
  }

  /** Fold an ACCEPTED ingest batch into a standing GEAR digest index —
    * [[appendChunkIndex]]'s CDC counterpart, exactly-once per `epoch`
    * ([[SetOverlap.appendIndex]]), so tomorrow's
    * [[incrementalGearChunkPairsIndexed]] screens against today's
    * survivors without a rebuild.
    */
  def appendGearChunkIndex(batch: DataFrame, index: ChunkIndex,
                           maskBits: Int = 6, minSize: Int = 1,
                           maxSize: Int = Int.MaxValue,
                           buckets: Int = 16, epoch: Long): ChunkIndex = {
    SetOverlap.appendIndex(gearDigestSet(batch, "doc_id", maskBits, minSize,
      maxSize), index.digests, index.sizes, "sz_c", buckets, epoch)
    index
  }

  /** [[incrementalGearChunkPairs]] against a standing gear
    * [[ChunkIndex]] — identical results when the index was built from the
    * same corpus (the m14 oracle applies verbatim), but the per-ingest
    * cost excludes the corpus chunking + digesting: only the FRESH batch
    * chunks, and the probe join reads the digest table through its bucket
    * layout with no corpus-side Exchange (the m10 pattern,
    * PlanSpec-pinned).
    */
  def incrementalGearChunkPairsIndexed(fresh: DataFrame, index: ChunkIndex,
                                       threshold: Double = 0.5,
                                       maskBits: Int = 6, minSize: Int = 1,
                                       maxSize: Int = Int.MaxValue): DataFrame =
    indexedScreen(gearDigestSet(fresh, "fresh_id", maskBits, minSize, maxSize),
      index, threshold)

  /** Per-blob DISTINCT gear-chunk digest ARRAY in one in-row projection —
    * [[inRowChunkDigests]]'s CDC counterpart, for the STREAMING fresh side
    * (e38): boundaries, slicing, digesting and dedup all live in the
    * blob's own row, so the stream stays stateless until its single
    * aggregate. The transform lambda is interpreted — acceptable on the
    * fresh side, which is micro-batch-sized; the CORPUS side must use the
    * codegen [[gearChunks]] path (see that method's shape adjudication).
    * Returns (doc_id, digests).
    */
  def inRowGearChunkDigests(media: DataFrame, maskBits: Int = 6,
                            minSize: Int = 1,
                            maxSize: Int = Int.MaxValue): DataFrame = {
    val ends = graft.functions.NativeFunctions.gearChunkEnds(
      media.sparkSession, col("payload"), maskBits, minSize, maxSize)
    media.filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), col("payload"), ends.as("ends"))
      .withColumn("digests", array_distinct(expr(
        "transform(ends, (e, i) -> sha2(CASE WHEN i = 0 " +
          "THEN substring(payload, 1, cast(e AS INT)) " +
          "ELSE substring(payload, cast(ends[i - 1] + 1 AS INT), " +
          "cast(e - ends[i - 1] AS INT)) END, 256))")))
      .select(col("doc_id"), col("digests"))
  }

  /** The 256-entry gear table as (b, g) rows — the hash primitive the m12
    * oracle consumes (the hyperplanes/doc_hashes aux contract: DuckDB
    * replays chunk boundaries from the dumped table instead of
    * reimplementing the splitmix64 derivation).
    */
  def gearTableDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    graft.functions.GearChunkEnds.table.zipWithIndex
      .map { case (g, b) => (b.toLong, g) }.toSeq.toDF("b", "g")
  }

  /** Incremental media ingest screen — the d11 daily-ingest shape for the
    * chunk-similarity family: FRESH blobs screen against the standing
    * corpus (never against each other; intra-batch dups are
    * [[chunkJaccardPairs]] on the batch alone), pairing where the Jaccard
    * of distinct chunk-digest sets clears `threshold`. The digest is the
    * probe key: candidates form only where a fresh chunk's digest already
    * exists in the corpus, so per-ingest pair work is ∝ the fresh batch's
    * digest hits, and only (id, 32-byte digest) rows shuffle. Corpus
    * chunking recurs per run here — the standing bucketed digest index
    * (the d12 layout) removes that exactly as it did for shingles.
    * Returns (fresh_id, corpus_id, inter, sz_f, sz_c, jaccard).
    */
  def incrementalChunkPairs(fresh: DataFrame, corpus: DataFrame,
                            threshold: Double = 0.5,
                            chunkBytes: Int = 64): DataFrame = {
    val dc = chunkDigestSet(corpus, "corpus_id", chunkBytes)
    SetOverlap.screen(chunkDigestSet(fresh, "fresh_id", chunkBytes), dc,
      SetOverlap.sizes(dc, "corpus_id", "sz_c"), "digest", threshold)
  }

  /** Standing chunk-digest index handle: corpus (digest, doc_id) rows
    * bucketed+sorted on the digest (the probe key) and per-doc distinct
    * chunk counts bucketed on the doc id — the d12 layout for the media
    * family. Chunk size and bucket count are part of the layout contract
    * (bake them into the caller's table naming).
    */
  final case class ChunkIndex(digests: String, sizes: String) {
    /** The tables as screen inputs: (corpus_id, digest), (corpus_id, sz_c). */
    def corpus(spark: org.apache.spark.sql.SparkSession): (DataFrame, DataFrame) =
      (spark.table(digests).select(col("doc_id").as("corpus_id"), col("digest")),
        spark.table(sizes).select(col("doc_id").as("corpus_id"), col("sz_c")))
  }

  /** Materialize the standing chunk-digest index for `corpus` — write
    * ONCE, screen every later ingest against the tables
    * ([[incrementalChunkPairsIndexed]]), removing the per-run corpus
    * chunking+digesting the direct screen pays (exactly what the shingle
    * index did for the Jaccard family). Idempotent per (session, names).
    */
  def writeChunkIndex(corpus: DataFrame, index: ChunkIndex,
                      chunkBytes: Int = 64, buckets: Int = 16): ChunkIndex = {
    SetOverlap.writeIndex(corpus.sparkSession, index.digests, index.sizes,
      "sz_c", buckets)(chunkDigestSet(corpus, "doc_id", chunkBytes))
    index
  }

  /** Fold an ACCEPTED ingest batch into a standing [[ChunkIndex]] — the
    * media-family compaction step, exactly-once per `epoch`
    * ([[SetOverlap.appendIndex]]), so tomorrow's
    * [[incrementalChunkPairsIndexed]] screens against today's survivors
    * without a rebuild.
    */
  def appendChunkIndex(batch: DataFrame, index: ChunkIndex,
                       chunkBytes: Int = 64, buckets: Int = 16,
                       epoch: Long): ChunkIndex = {
    SetOverlap.appendIndex(chunkDigestSet(batch, "doc_id", chunkBytes),
      index.digests, index.sizes, "sz_c", buckets, epoch)
    index
  }

  /** Fresh digest set (fresh_id, digest) against a standing [[ChunkIndex]]
    * — the indexed screen shared by the fixed-size and gear families.
    */
  private def indexedScreen(fresh: DataFrame, index: ChunkIndex,
                            threshold: Double): DataFrame = {
    val (digests, sizes) = index.corpus(fresh.sparkSession)
    SetOverlap.screen(fresh, digests, sizes, "digest", threshold)
  }

  /** Per-blob DISTINCT chunk-digest ARRAY as one in-row projection — every
    * chunk of a blob lives in the blob's own row, so the distinct that the
    * batch screen buys with a shuffle happens inside the row
    * (`array_distinct` over a `transform` of byte slices). This is what
    * lets the STREAMING chunk screen stay stateless until its single
    * aggregate: fresh-side digesting, sizing (`size(digests)`) and
    * dedup all ride the scan. Digests are bit-identical to
    * [[hexChunks]]+sha2 (same byte slices, hex round-trip elided).
    * Returns (doc_id, digests).
    */
  def inRowChunkDigests(media: DataFrame, chunkBytes: Int = 64): DataFrame =
    media
      .withColumn("n_chunks",
        ceil(octet_length(col("payload")) / lit(chunkBytes.toDouble)).cast("long"))
      .filter(col("n_chunks") > 0)
      .withColumn("digests", array_distinct(transform(
        sequence(lit(0L), col("n_chunks") - 1),
        i => sha2(col("payload").substr(
          (i * chunkBytes + 1).cast("int"), lit(chunkBytes)), 256))))
      .select(col("doc_id"), col("digests"))

  /** [[incrementalChunkPairs]] against a standing [[ChunkIndex]] —
    * identical results when the index was built from the same corpus
    * (spec-pinned; the m09 oracle applies verbatim), but the per-ingest
    * cost excludes the corpus chunking + digesting: only the FRESH batch
    * chunks, and the probe join reads the corpus digest table through its
    * bucket layout with no corpus-side Exchange (the d16 pattern,
    * PlanSpec-pinned).
    */
  def incrementalChunkPairsIndexed(fresh: DataFrame, index: ChunkIndex,
                                   threshold: Double = 0.5,
                                   chunkBytes: Int = 64): DataFrame =
    indexedScreen(chunkDigestSet(fresh, "fresh_id", chunkBytes), index, threshold)

  /** Partition-batched feature extraction over the payload column. Runs as a
    * single narrow `mapPartitions` stage — no shuffle; the iterator shape is
    * what a vectorized codec batch would consume.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select("doc_id", "media_type", "payload").mapPartitions { rows =>
      // per-partition init of a real codec would go here
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val (n, head) = stubDecode(payload)
        Row(r.getLong(0), r.getString(1), n, head,
          java.util.Arrays.hashCode(payload).toLong)
      }
    }(enc)
  }
}
