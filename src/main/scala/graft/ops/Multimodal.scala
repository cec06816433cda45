package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed media-feature record produced by the (stubbed) decoder. */
final case class MediaFeatures(
    doc_id: Long, n_bytes: Long, mean_byte: Double,
    fake_width: Long, fake_frames: Long)

/** Multimodal column plumbing: media (image/audio/video) modeled as opaque
  * `binary` columns + typed metadata, the way a 100 TB training-data lake
  * stores them. The container has no media codecs, so the *decode* step is a
  * clearly-marked deterministic stub ([[Multimodal.decodeStub]]); everything
  * around it — binary schema, per-partition batch iteration, typed Encoders,
  * frame-sampling shape, metadata extraction — is real and oracle-checked.
  *
  * The `documents.text` column (pure ASCII) stands in for media payloads via
  * UTF-8 encoding, which keeps byte semantics identical to char semantics so
  * even the mapPartitions path has an exact DuckDB oracle.
  */
object Multimodal {

  private def media(s: SparkSession, dir: String): DataFrame =
    Registry.table(s, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source").as("origin"))

  // ---------------------------------------------------------- metadata scan
  /** Opaque-binary metadata: size, content digest, sniffed kind — the
    * catalog columns a media lake maintains without ever decoding payloads.
    * Pure expressions: runs at full scan speed, no shuffle.
    */
  def mediaMetadata(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(
      col("doc_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      lower(sha2(col("payload"), 256)).as("sha256_hex"),
      // "magic bytes" sniff stub: first byte parity picks a fake container
      when(ascii(substring(col("payload").cast("string"), 1, 1)) % 2 === 0,
        "img/fake").otherwise("vid/fake").as("sniffed_kind"),
      col("origin"))
      .orderBy("doc_id")

  private val mediaMetadataOracle = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  lower(sha256(text)) AS sha256_hex,
  CASE WHEN ascii(substr(text, 1, 1)) % 2 = 0
       THEN 'img/fake' ELSE 'vid/fake' END AS sniffed_kind,
  source AS origin
FROM documents ORDER BY doc_id
"""

  // ------------------------------------------------- decode via mapPartitions
  /** STUB decoder — stands in for an image/audio codec that is not present
    * in this container. Deterministic features of the raw bytes so the
    * pipeline is testable end-to-end; a real deployment swaps only this
    * function (same `Array[Byte] => MediaFeatures` seam, e.g. JNI to a codec
    * or a Python worker via a columnar batch bridge).
    */
  private def decodeStub(docId: Long, bytes: Array[Byte]): MediaFeatures = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    MediaFeatures(
      doc_id = docId,
      n_bytes = bytes.length.toLong,
      mean_byte = if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length,
      fake_width = bytes.length % 640,
      fake_frames = bytes.length / 256 + 1)
  }

  /** Per-partition decode: the genuine imperative seam (SURVEY.md §2.8 —
    * mapPartitions as last resort, justified here because a codec is a
    * black-box library call, not a Column expression). Batch shape: one
    * iterator pass per partition, no per-row session/setup cost — where a
    * real decoder would amortize its init.
    */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[(Long, Array[Byte])] = media(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
    ds.mapPartitions(_.map { case (id, bytes) => decodeStub(id, bytes) })
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle reproduces the stub arithmetic on ASCII codes (bytes == chars
    * for this corpus).
    */
  private val mediaFeaturesOracle = """
WITH codes AS (
  SELECT doc_id, n_chars,
    list_transform(string_split_regex(text, ''), c -> ascii(c)) AS cs
  FROM documents)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_bytes,
  CASE WHEN n_chars = 0 THEN 0.0
       ELSE CAST(list_sum(cs) AS DOUBLE) / n_chars END AS mean_byte,
  CAST(n_chars % 640 AS BIGINT) AS fake_width,
  CAST(n_chars // 256 + 1 AS BIGINT) AS fake_frames
FROM codes ORDER BY doc_id
"""

  // ----------------------------------------------------------- frame sample
  /** Frame sampling over opaque payloads: fixed 256-byte "frames", one
    * digest per sampled frame — the access pattern of video preprocessing
    * (seek + slice, never full decode). posexplode keeps frame order without
    * a shuffle.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("doc_id"), col("payload").cast("string").as("t"))
      .select(col("doc_id"),
        // empty payload -> empty array -> posexplode emits nothing (the
        // truncating (len-1)/256 would otherwise give one bogus frame)
        posexplode(when(length(col("t")) > 0, transform(
          sequence(lit(0), ((length(col("t")) - 1) / 256).cast("int")),
          i => substring(col("t"), i * 256 + 1, lit(256))))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        md5(col("col")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  private val frameSampleOracle = """
SELECT doc_id,
  CAST(f - 1 AS BIGINT) AS frame_idx,
  md5(substr(text, (f - 1) * 256 + 1, 256)) AS frame_md5
FROM documents,
  LATERAL (SELECT unnest(range(1, (length(text) - 1) // 256 + 2)) AS f)
-- empty payloads emit NO frames, same as the engine's guard: DuckDB //
-- truncates toward zero, so without this (-1)//256 = 0 would yield one
-- bogus md5('') frame
WHERE length(text) > 0
ORDER BY doc_id, frame_idx
"""

  // ---------------------------------------------------------------- resize
  /** Resize/downsample stub: keep every 4th byte (a stride-4 "thumbnail" —
    * the deterministic stand-in for an image resampler; a real deployment
    * swaps the kernel, the schema/flow stays). Emits the new payload's
    * size + digest and the stride as catalog metadata. Pure per-row
    * expressions — a 100 TB thumbnail pass is scan-speed, no shuffle.
    */
  def mediaResize(s: SparkSession, dir: String): DataFrame = {
    val t = col("payload").cast("string")
    // one char kept per ≤4-char chunk (greedy `.{0,3}` absorbs the tail)
    val resized = regexp_replace(t, "(.).{0,3}", "$1")
    media(s, dir).select(
      col("doc_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      length(resized).cast("long").as("resized_bytes"),
      md5(resized).as("resized_md5"),
      lit(4L).as("stride"))
      .orderBy("doc_id")
  }

  private val mediaResizeOracle = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(length(regexp_replace(text, '(.).{0,3}', '\1', 'g')) AS BIGINT)
    AS resized_bytes,
  md5(regexp_replace(text, '(.).{0,3}', '\1', 'g')) AS resized_md5,
  CAST(4 AS BIGINT) AS stride
FROM documents ORDER BY doc_id
"""

  // --------------------------------------------- perceptual-hash signature
  /** 60-bit aHash-style perceptual signature over the opaque payloads —
    * the media catalog column a dedup pass blocks on: each payload is
    * resampled onto a FIXED 60-block grid (block k = bytes
    * [⌊kL/60⌋, ⌊(k+1)L/60⌋) — the "resize to fixed grid" an image aHash
    * does with pixels), bit k = block-k mean byte > payload mean byte,
    * decided as the EXACT integer compare `sum_block·L > sum_total·len_k`
    * so no engine can flap a boundary bit.
    *
    * Computed in the same `mapPartitions` decode seam as
    * [[mediaFeatures]] (one tight byte loop per payload — where a real
    * deployment hashes decoded pixels/samples instead of raw bytes). The
    * pairing step for these signatures is the 4-band pigeonhole blocking
    * + Hamming verification already proven on `dedup_simhash_pairs`; on
    * this corpus the near-dups are token-level edits that do not preserve
    * byte-block structure, so the signature ships as a catalog column and
    * the banding composition stays with the text/embedding families.
    */
  /** 60-bit blocksum signature of `bytes[lo, hi)` — the ONE definition of
    * the perceptual bit rule, shared by the doc-level catalog signature
    * and the per-frame scene-cut signature so the two families can never
    * silently diverge (bit b set iff block b's byte mass exceeds its
    * pro-rata share: `sb·len > stot·blockLen`, exact integers).
    */
  private def sig60(bytes: Array[Byte], lo: Int, hi: Int): Long = {
    val fl = hi - lo
    var stot = 0L
    var i = lo
    while (i < hi) { stot += bytes(i) & 0xff; i += 1 }
    var ph = 0L
    var k = 0
    while (k < 60) {
      val blo = lo + (k.toLong * fl / 60).toInt
      val bhi = lo + ((k + 1).toLong * fl / 60).toInt
      var sb = 0L
      var j = blo
      while (j < bhi) { sb += bytes(j) & 0xff; j += 1 }
      if (sb * fl > stot * (bhi - blo)) ph |= 1L << k
      k += 1
    }
    ph
  }

  /** Per-payload 60-bit perceptual signatures — session-memoized (shared-
    * base discipline): the signature listing and the near-dup banding both
    * start from the same codec-seam pass, so it decodes once per
    * (session, corpus). Tiny 2-column result, checkpointed.
    */
  private val phashCache = new graft.FrameMemo

  private[graft] def phashSigs(s: SparkSession, dir: String): DataFrame =
    phashCache.getOrElseUpdate(s, dir) {
      import s.implicits._
      val ds: Dataset[(Long, Array[Byte])] = media(s, dir)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
      ds.mapPartitions(_.map { case (id, bytes) =>
        (id, sig60(bytes, 0, bytes.length))
      }).toDF("doc_id", "phash")
    }

  def mediaPhash(s: SparkSession, dir: String): DataFrame =
    phashSigs(s, dir).orderBy("doc_id")

  /** SQL twin of [[sig60]]: emits the tot/blk/sig CTE chain computing the
    * 60-bit signature of `textCol` per `keys` row of `src` — parameterized
    * so the doc-level and per-frame oracles share one block rule, exactly
    * like the Scala side.
    */
  private def sig60Sql(src: String, keys: String, textCol: String,
      tot: String, blk: String, sig: String, out: String): String = s"""
$tot AS (
  SELECT $keys, length($textCol) AS L, $textCol AS sig_text,
    list_sum(list_prepend(0,
      list_transform(string_split_regex($textCol, ''), c -> ascii(c)))) AS stot
  FROM $src),
$blk AS (
  SELECT $keys, k, L, stot,
    CAST(floor((k+1) * L / 60.0) - floor(k * L / 60.0) AS BIGINT) AS bl,
    list_sum(list_prepend(0, list_transform(
      string_split_regex(substr(sig_text,
        CAST(floor(k * L / 60.0) AS INT) + 1,
        CAST(floor((k+1) * L / 60.0) - floor(k * L / 60.0) AS INT)), ''),
      c -> ascii(c)))) AS sb
  FROM $tot, (SELECT unnest(range(0, 60)) AS k)),
$sig AS (
  SELECT $keys,
    CAST(sum(CASE WHEN sb * L > stot * bl
             THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS $out
  FROM $blk GROUP BY $keys)"""

  /** Shared oracle prefix: the 60-bit signature CTE (`sig`), reused by the
    * catalog query and the near-dup pair query.
    */
  private val phashSigSql =
    "WITH " + sig60Sql("documents", "doc_id", "text",
      "tot", "blk", "sig", "phash") + "\n"

  private val mediaPhashOracle =
    phashSigSql + "SELECT doc_id, phash FROM sig ORDER BY doc_id"

  // -------------------------------------------------- perceptual near-dup
  /** Media near-dup pairs over the perceptual signatures — the multimodal
    * twin of `dedup_simhash_pairs`, turning the [[mediaPhash]] catalog
    * column into a dedup decision: 4-band blocking over the 60-bit
    * signatures proposes candidates, `bit_count(xor)` verifies at
    * Hamming ≤ 12. Like `dedup_minhash_lsh` (and unlike the simhash query,
    * whose ≤3 threshold makes banding pigeonhole-exact), this is LSH
    * semantics: recall beyond distance 3 is probabilistic in the band
    * structure, so the banding IS the operator's definition and the oracle
    * mirrors it band-for-band — byte-shifted token edits spread phash bits
    * too widely for an exact ≤3 cut to fire on this corpus (0 pairs at
    * every SF), which is itself the documented reason image dedup uses
    * looser perceptual thresholds than text simhash.
    *
    * 100 TB posture: the self-join is on (band, key) equality — shuffle is
    * O(candidate pairs), never catalog²; a band value shared by B payloads
    * contributes C(B,2) candidates, so a skew-prone corpus (e.g. huge
    * single-color image populations) takes the same stop-value df cap as
    * the text posting joins (`Dedup.PostingDfCap`) — not engaged here
    * because this corpus' band frequencies are single digits.
    */
  def phashNearDup(s: SparkSession, dir: String): DataFrame = {
    // the memoized signatures: the band explode and both verify sides read
    // the (tiny, 2-column) checkpointed sig table instead of re-running
    // the mapPartitions decode 3x
    val sigs = phashSigs(s, dir)
    val bands = sigs.select(col("doc_id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), 15 * b).bitwiseAND(lit(0x7FFFL)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    val a = bands.as("a"); val bb = bands.as("b")
    val cand = a.join(bb,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("i"), col("phash").as("pa")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("phash").as("pb")), "j")
      .select(col("i"), col("j"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 12)
      .orderBy("i", "j")
  }

  private val phashNearDupOracle = phashSigSql + """,
bands AS (
  SELECT doc_id, k AS band, (phash >> (15*k)) & 32767 AS key
  FROM sig, (SELECT unnest(range(0, 4)) AS k)),
cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT i, j,
  CAST(bit_count(xor(sa.phash, sb.phash)) AS BIGINT) AS hamming
FROM cand JOIN sig sa ON sa.doc_id = i JOIN sig sb ON sb.doc_id = j
WHERE bit_count(xor(sa.phash, sb.phash)) <= 12
ORDER BY i, j
"""

  // ------------------------------------------- content-defined chunking
  /** Per-payload content-defined chunks: boundary positions from the
    * [[graft.functions.CdcBoundaries]] window hash (~64-byte mean), one
    * row per chunk with its length and digest. This is the shift-robust
    * complement of [[frameSample]]'s fixed 256-byte frames: an insertion
    * shifts every later fixed frame (zero digest reuse) but re-syncs CDC
    * boundaries after one window, so downstream dedup still matches the
    * unchanged content — the storage/WARC dedup shape. Pure per-row
    * expressions after the boundary scan; no shuffle until a consumer
    * aggregates digests.
    */
  private def cdcDigests(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // slice + digest every chunk INSIDE the row (transform over the
    // boundary array), then explode only the tiny (len, md5) structs — a
    // posexplode before the digest would copy the whole payload into every
    // per-chunk row (O(L²/chunk) intermediate bytes per document)
    def startAt(i: Column, b: Column): Column =
      when(i === 0, lit(0L)).otherwise(element_at(b, i))
    media(s, dir)
      .filter(octet_length(col("payload")) >= 1)
      .select(col("doc_id"), col("payload"),
        call_function("cdc_boundaries_8_64", col("payload")).as("b"))
      .select(col("doc_id"),
        posexplode(transform(col("b"), (en, i) => struct(
          (en - startAt(i, col("b"))).as("chunk_len"),
          md5(col("payload").substr(
            (startAt(i, col("b")) + 1).cast("int"),
            (en - startAt(i, col("b"))).cast("int"))).as("chunk_md5"))))
          .as(Seq("chunk_idx", "ch")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("ch.chunk_len"), col("ch.chunk_md5"))
  }

  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcDigests(s, dir).orderBy("doc_id", "chunk_idx")

  /** Shared CTE: boundary list per document, mirroring CdcBoundaries —
    * interior positions where the first md5 byte of the 8-char window has
    * low 6 bits zero (hex value % 64 = 0), payload end appended,
    * list_sort because DuckDB's list_distinct does not preserve order.
    */
  private val cdcChunkSql = """
WITH bnd AS (
  SELECT doc_id, length(text) AS L,
    list_sort(list_distinct(list_append(
      list_filter(range(8, length(text) + 1),
        p -> CAST('0x' || substr(md5(substr(text, CAST(p - 7 AS INT), 8)),
                  1, 2) AS BIGINT) % 64 = 0),
      CAST(length(text) AS BIGINT)))) AS b
  FROM documents WHERE length(text) >= 1),
ch AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
    CASE WHEN i = 1 THEN 0 ELSE b[CAST(i - 1 AS INT)] END AS st,
    b[CAST(i AS INT)] AS en
  FROM bnd, LATERAL (SELECT unnest(range(1, len(b) + 1)) AS i)),
dig AS (
  SELECT c.doc_id, c.chunk_idx, c.en - c.st AS chunk_len,
    md5(substr(d.text, CAST(c.st + 1 AS INT), CAST(c.en - c.st AS INT)))
      AS chunk_md5
  FROM ch c JOIN documents d USING (doc_id))
"""

  private val cdcChunksOracle = cdcChunkSql + """
SELECT doc_id, chunk_idx, chunk_len, chunk_md5
FROM dig ORDER BY doc_id, chunk_idx
"""

  /** Per-document CDC dedup profile: how much of each payload's content is
    * shared with ANY other payload, by chunk digest. n_shared counts this
    * document's chunks whose digest occurs in ≥ 2 distinct documents —
    * the per-asset signal a storage-dedup / near-copy triage ranks on.
    * Scale: digest df is one map-side-combined aggregate; the profile join
    * shuffles on digest (content-addressed key, uniform by construction).
    */
  def cdcSharedProfile(s: SparkSession, dir: String): DataFrame = {
    // materialize the (doc, digest) table once: every downstream pass reads
    // it instead of re-running the boundary scan + per-chunk md5. The
    // digest travels as its 16-byte unhex() binary, not the 32-char hex
    // string — the digest is internal to this query (the output is per-doc
    // counts), unhex is a bijection so grouping semantics are untouched,
    // and every exchange/sort on the key moves half the bytes (guide §2.3).
    val dig = cdcDigests(s, dir)
      .select(col("doc_id"), unhex(col("chunk_md5")).as("ck"))
      .localCheckpoint()
    // r14 rewrite (guide §2.4): the old form shuffled the RAW instance
    // table by digest for a SortMergeJoin against the countDistinct
    // aggregate (3 corpus-sized exchanges + 2 sorts). The per-digest doc
    // count is a plain count over the (doc, digest)-deduped frame, so one
    // groupBy builds the deduped frame (carrying the instance multiplicity
    // k) and a window over the digest attaches dn without any join — two
    // exchanges of the narrower deduped frame, one sort.
    val gd = dig.groupBy("doc_id", "ck").agg(count(lit(1)).as("k"))
    val dn = count(lit(1)).over(org.apache.spark.sql.expressions.Window
      .partitionBy("ck"))
    gd.withColumn("dn", dn)
      .groupBy("doc_id")
      .agg(sum("k").as("n_chunks"),
        sum(when(col("dn") >= 2, col("k")).otherwise(0L)).as("n_shared"))
      .withColumn("shared_fraction",
        col("n_shared").cast("double") / col("n_chunks"))
      .orderBy("doc_id")
  }

  private val cdcSharedOracle = cdcChunkSql + """,
dfd AS (
  SELECT chunk_md5, count(DISTINCT doc_id) AS dn FROM dig GROUP BY chunk_md5)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN dn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  CAST(sum(CASE WHEN dn >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS shared_fraction
FROM dig JOIN dfd USING (chunk_md5)
GROUP BY doc_id ORDER BY doc_id
"""

  // ------------------------------------------------------------ scene cuts
  private val CutHamming = 30

  /** Scene-cut detection — temporal segmentation, the media analog of
    * `chunk_semantic_boundaries`: adjacent frames whose perceptual
    * signatures diverge mark a shot boundary. Per-frame phash → lag over
    * the doc-partitioned frame order (unique frame_idx: a total sort key,
    * per the round-9 window-tie discipline) → Hamming distance → cut at
    * ≥ [[CutHamming]]. On this synthetic corpus adjacent text frames are
    * independent, so distances cluster around the 60-bit random midpoint
    * of 30 (measured mean 29.7) and the threshold splits at the midpoint;
    * on real footage, frames within one shot sit far below it. Shuffle:
    * one doc-keyed exchange for the lag window; signatures are a pure
    * per-row map.
    */
  def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the lag is doc-local and the signature pass already walks a doc's
    // frames in order — computing the adjacent Hamming inline removes the
    // doc-keyed exchange the window form needed (the same
    // document-local-work escalation as chunk_semantic_boundaries); only
    // the presentation sort remains
    val ds: Dataset[(Long, Array[Byte])] = media(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      val L = bytes.length
      val nf = if (L == 0) 0 else (L - 1) / 256 + 1
      var prev = 0L
      (0 until nf).iterator.flatMap { f =>
        val lo = f * 256
        val cur = sig60(bytes, lo, math.min(lo + 256, L))
        val out = if (f == 0) Iterator.empty else Iterator.single(
          (id, f.toLong, java.lang.Long.bitCount(prev ^ cur).toLong))
        prev = cur
        out
      }
    }).toDF("doc_id", "frame_idx", "hamming")
      .withColumn("is_cut", col("hamming") >= CutHamming)
      .orderBy("doc_id", "frame_idx")
  }

  private val sceneCutsOracle = s"""
WITH fr AS (
  SELECT doc_id, f AS frame_idx,
    substr(text, CAST(f * 256 + 1 AS INT), 256) AS ftext
  FROM documents,
    LATERAL (SELECT unnest(range(0, (length(text) - 1) // 256 + 1)) AS f)
  WHERE length(text) > 0),
${sig60Sql("fr", "doc_id, frame_idx", "ftext",
    "ftot", "fblk", "fsig", "fhash")},
lagged AS (
  SELECT doc_id, frame_idx, fhash,
    lag(fhash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
  FROM fsig)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(bit_count(xor(fhash, prev)) AS BIGINT) AS hamming,
  bit_count(xor(fhash, prev)) >= $CutHamming AS is_cut
FROM lagged WHERE prev IS NOT NULL
ORDER BY doc_id, frame_idx
"""

  val queries: Map[String, QueryDef] = Map(
    "media_scene_cuts" -> QueryDef(sceneCuts, Some(sceneCutsOracle)),
    "media_phash" -> QueryDef(mediaPhash, Some(mediaPhashOracle)),
    "media_cdc_chunks" -> QueryDef(cdcChunks, Some(cdcChunksOracle)),
    "media_cdc_shared" ->
      QueryDef(cdcSharedProfile, Some(cdcSharedOracle)),
    "media_phash_neardup" ->
      QueryDef(phashNearDup, Some(phashNearDupOracle)),
    "media_metadata" -> QueryDef(mediaMetadata, Some(mediaMetadataOracle)),
    "media_features_mappartitions" -> QueryDef(mediaFeatures, Some(mediaFeaturesOracle)),
    "media_frame_sample" -> QueryDef(frameSample, Some(frameSampleOracle)),
    "media_resize_stride" -> QueryDef(mediaResize, Some(mediaResizeOracle))
  )
}
