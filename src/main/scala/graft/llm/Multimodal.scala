package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Multimodal-column plumbing: media as opaque `binary` payloads with typed
  * struct metadata, plus decode / feature-extract / resize / frame-sample
  * operators. Every decode in this file parses REAL bytes of a real format
  * (netpbm P5/P6, RIFF/WAVE PCM) with byte arithmetic alone — no codec
  * library, no UDF, and no stub column anywhere in the catalog output: the
  * round-9 `decodeStub` is retired. Codec formats this toolchain lacks
  * (JPEG, H.264) would slot in as a vectorized decode expression exactly
  * where [[parsedPpm]]/[[parsedImg]] sit; nothing else in the pipeline
  * shape would move.
  */
object Multimodal {

  /** A REAL in-engine image decode — no codec libraries required, because
    * the format is binary netpbm (PGM "P5"), parseable with byte
    * arithmetic alone. [[packAsPgm]] writes each document's bytes as a
    * VALID P5 grayscale image (ASCII header `P5\n{w} {h}\n255\n` + raw
    * 8-bit pixels); [[pgmDecode]] then decodes WITHOUT looking at the
    * source text: it parses the dimensions out of the header it finds in
    * the payload, slices the pixel section it declares, and extracts
    * pixel statistics via the native byte folds
    * ([[graft.expr.ByteFold]]). The DuckDB oracle recomputes the same
    * features from the SOURCE text independently — so a header-parsing
    * or slicing bug in the decoder fails the hash gate, which is what
    * makes this a decode rather than a stub. (Codec formats — JPEG,
    * H.264 — need libraries this toolchain lacks; per the file header
    * they would slot in as a vectorized decode expression exactly where
    * this parse sits. The decode CONTRACT is exercised end-to-end on the
    * real formats in this file.) */
  private val pgmW = 32

  def packAsPgm(docs: DataFrame): DataFrame = {
    val h = floor(length(col("text")) / pgmW)
    docs
      .filter(h > 0)
      .select(col("doc_id"),
        concat(
          concat(lit(s"P5\n$pgmW "), h.cast("string"), lit("\n255\n")).cast("binary"),
          expr(s"substring(CAST(text AS BINARY), 1, " +
            s"CAST($pgmW * floor(length(text) / $pgmW) AS INT))")).as("img"))
  }

  def pgmDecode(s: SparkSession, d: String): DataFrame =
    decodeImg(packAsPgm(Tables.documents(s, d))).orderedBy("doc_id")

  /** The PGM decode chain executed by the STREAMING engine (13th
    * batch≡streaming bridge): file source over the same documents parquet,
    * AvailableNow, APPEND mode — the whole pack→parse→byte-fold chain is
    * stateless projections plus a filter, so every decoded row emits in
    * the micro-batch it arrives in and the materialized sink is exactly
    * the batch answer — memory sink, hash-compared against the IDENTICAL
    * [[pgmOracle]] as q_media_decode. Puts binary payload decode under
    * the streaming engine like every other operator family. */
  def pgmStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamAppend(s, "media_streamed_") { cs =>
      decodeImg(packAsPgm(Tables.documentsStream(cs, d)))
    }.orderedBy("doc_id")

  /** The decode stage alone (parse + stats), over any (doc_id, img)
    * frame — split out so the spec can push a CORRUPTED payload through
    * the real chain. */
  private[llm] def decodeImg(packed: DataFrame): DataFrame =
    decodeImgStats(parsedImg(packed))

  /** Header parse + pixel slice: (doc_id, .., w, h, px). */
  private[llm] def parsedImg(packed: DataFrame): DataFrame = {
    // dims bounded to 9 digits: a decoder enforces format limits — an
    // unbounded \d+ would let a syntactically valid but absurd header
    // (w=h=10^13) overflow the ANSI Long multiply / Int cast below and
    // crash the query instead of degrading (the malformed-payload
    // contract PgmSpec pins)
    val pat = "^P5\\n(\\d{1,9}) (\\d{1,9})\\n255\\n"
    // widest bounded header: "P5\n" + 9 digits + " " + 9 digits + "\n255\n"
    val headWindow = 3 + 9 + 1 + 9 + 5
    packed
      .withColumn("head", substring(col("img"), 1, headWindow).cast("string"))
      .withColumn("hdr", regexp_extract(col("head"), pat, 0))
      // a corrupted header (no regexp match -> '') must decode to NULL
      // dims, not throw under ANSI mode — CaseWhen evaluates the cast
      // branch only on a real match; hdr (group 0) is non-empty iff the
      // pattern matched, so it guards both dim extractions
      .withColumn("w", when(col("hdr") =!= "",
        regexp_extract(col("head"), pat, 1).cast("long")))
      .withColumn("h", when(col("hdr") =!= "",
        regexp_extract(col("head"), pat, 2).cast("long")))
      // 9-digit dims still multiply to ~10^18 (fits Long) but overflow
      // the Int cast; the CASE clamp is NULL-PRESERVING (least() would
      // swallow the null of a corrupted header and decode the whole
      // payload) and truncation is safe — substring stops at payload end
      .withColumn("px",
        expr("substring(img, length(hdr) + 1, CAST(CASE WHEN w * h > 2147483647" +
          " THEN 2147483647 ELSE w * h END AS INT))"))
  }

  /** Pixel statistics over the parsed bitmap — the feature-extract stage. */
  private[llm] def decodeImgStats(parsed: DataFrame): DataFrame =
    parsed
      .select(col("doc_id"), col("w"), col("h"),
        length(col("px")).cast("long").as("px_n"),
        call_function("byte_sum", col("px")).as("px_sum"),
        call_function("byte_min", col("px")).as("px_min"),
        call_function("byte_max", col("px")).as("px_max"))
      .withColumn("px_mean", col("px_sum") / col("px_n"))

  /** A REAL resize — the remaining stage of the advertised multimodal
    * quartet (decode / feature-extract / RESIZE / frame-sample): 2× box
    * downsample of the DECODED bitmap via the native
    * [[graft.expr.PgmShrink]] codegen loop (each 2×2 block's integer
    * floor mean). Output: halved dims, the shrunken image's md5, and its
    * byte-fold statistics — all scalars, so the whole resize sits under
    * the hash gate; the oracle replays the block averaging over the
    * source text's character codes with pure list arithmetic. Requires
    * h ≥ 2 (a one-row image has nothing to average). */
  def pgmResize(s: SparkSession, d: String): DataFrame =
    parsedImg(packAsPgm(Tables.documents(s, d)))
      .filter(col("h") >= 2)
      .withColumn("sh", call_function("pgm_shrink",
        col("px"), col("w").cast("int"), col("h").cast("int")))
      .select(col("doc_id"),
        floor(col("w") / 2).cast("long").as("ow"),
        floor(col("h") / 2).cast("long").as("oh"),
        md5(col("sh")).as("out_md5"),
        call_function("byte_sum", col("sh")).as("out_sum"),
        call_function("byte_min", col("sh")).as("out_min"),
        call_function("byte_max", col("sh")).as("out_max"))
      .orderedBy("doc_id")

  /** Block-average replay over source character codes: output pixel i at
    * (ox, oy) = (i % ow, i // ow) averages input indices
    * (2oy·w + 2ox) .. (+1, +w, +w+1), all 1-based in substr. The md5
    * compares byte-identically because averaged ASCII stays single-byte
    * UTF-8. */
  private def pgmResizeOracle: String = {
    val w = pgmW
    val ow = pgmW / 2
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) // $w AS hh FROM documents
       |  WHERE length(text) // $w >= 2),
       |c AS (
       |  SELECT doc_id, hh,
       |         list_transform(range(1, CAST($w * hh + 1 AS BIGINT)),
       |           i -> ord(substr(text, CAST(i AS INT), 1))) AS codes
       |  FROM d),
       |s AS (
       |  SELECT doc_id, CAST($ow AS BIGINT) AS ow, CAST(hh // 2 AS BIGINT) AS oh,
       |         list_transform(range(0, CAST($ow * (hh // 2) AS BIGINT)), i ->
       |           (codes[CAST((i // $ow) * 2 * $w + (i % $ow) * 2 + 1 AS INT)]
       |          + codes[CAST((i // $ow) * 2 * $w + (i % $ow) * 2 + 2 AS INT)]
       |          + codes[CAST(((i // $ow) * 2 + 1) * $w + (i % $ow) * 2 + 1 AS INT)]
       |          + codes[CAST(((i // $ow) * 2 + 1) * $w + (i % $ow) * 2 + 2 AS INT)]) // 4) AS oc
       |  FROM c)
       |SELECT doc_id, ow, oh,
       |       md5(array_to_string(list_transform(oc, x -> chr(CAST(x AS INT))), '')) AS out_md5,
       |       CAST(list_sum(oc) AS BIGINT) AS out_sum,
       |       CAST(list_min(oc) AS BIGINT) AS out_min,
       |       CAST(list_max(oc) AS BIGINT) AS out_max
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** AUDIO twin of the PGM path — binary RIFF/WAVE, 8-bit mono PCM: a
    * VALID playable WAV (44-byte canonical header, little-endian fields)
    * whose samples are the document's bytes. The decode demonstrates the
    * harder parse: multi-byte LITTLE-ENDIAN integers read from payload
    * bytes (sample rate at offset 25, data length at 41) via single-byte
    * `byte_sum` slices — no codec library, no UDF. Features are the audio
    * staples: sample count, peak deviation from the unsigned-PCM midpoint
    * (derived from the min/max folds), and energy (sum of squares — the
    * `byte_sumsq` fold). The oracle recomputes everything from the source
    * text, so a header-layout or endianness bug fails the hash gate. */
  private val wavRate = 8000

  def packAsWav(docs: DataFrame): DataFrame = {
    // LE32 of the data length, assembled as 4 hex byte pairs -> unhex
    def le32hex(n: Column): Column = concat(
      lpad(lower(hex(pmod(n, lit(256)))), 2, "0"),
      lpad(lower(hex(pmod(floor(n / 256), lit(256)))), 2, "0"),
      lpad(lower(hex(pmod(floor(n / 65536), lit(256)))), 2, "0"),
      lpad(lower(hex(pmod(floor(n / 16777216), lit(256)))), 2, "0"))
    val n = length(col("text"))
    // no NULL payloads: concat(NULL) would null the whole aud while the
    // oracle's constant sample_rate stays non-null — drop such rows on
    // BOTH sides (oracle: WHERE text IS NOT NULL)
    val rateHex = f"${wavRate & 0xff}%02x${(wavRate >> 8) & 0xff}%02x${(wavRate >> 16) & 0xff}%02x${(wavRate >> 24) & 0xff}%02x"
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      concat(
        lit("RIFF").cast("binary"), unhex(le32hex(n + 36)),
        lit("WAVEfmt ").cast("binary"),
        unhex(lit("10000000")),            // fmt chunk size 16
        unhex(lit("01000100")),            // PCM, mono
        unhex(lit(rateHex)),               // sample rate LE32
        unhex(lit(rateHex)),               // byte rate (8-bit mono = rate)
        unhex(lit("01000800")),            // block align 1, bits 8
        lit("data").cast("binary"), unhex(le32hex(n)),
        col("text").cast("binary")).as("aud"))
  }

  def wavDecode(s: SparkSession, d: String): DataFrame =
    decodeAud(packAsWav(Tables.documents(s, d))).orderedBy("doc_id")

  /** The audio decode stage over any (doc_id, aud) frame. */
  private[llm] def decodeAud(packed: DataFrame): DataFrame = {
    // single-byte slice -> its unsigned value (byte_sum over one byte)
    def byteAt(i: Int): Column =
      call_function("byte_sum", expr(s"substring(aud, $i, 1)"))
    def le32(off: Int): Column =
      byteAt(off) + byteAt(off + 1) * 256L +
        byteAt(off + 2) * 65536L + byteAt(off + 3) * 16777216L
    packed
      .withColumn("magic_ok",
        substring(col("aud"), 1, 4).cast("string") === "RIFF" &&
          substring(col("aud"), 9, 8).cast("string") === "WAVEfmt ")
      .withColumn("sample_rate", when(col("magic_ok"), le32(25)))
      .withColumn("n_samples", when(col("magic_ok"), le32(41)))
      // a corrupted LE32 length (up to 2^32-1) must not overflow the
      // ANSI Int cast — null-preserving CASE clamp (least() would swallow
      // the bad-magic null), substring truncates at payload end
      .withColumn("px",
        expr("substring(aud, 45, CAST(CASE WHEN n_samples > 2147483647" +
          " THEN 2147483647 ELSE n_samples END AS INT))"))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        (col("n_samples") / lit(wavRate.toDouble)).as("duration_sec"),
        greatest(call_function("byte_max", col("px")) - 128L,
          lit(128L) - call_function("byte_min", col("px"))).as("peak"),
        call_function("byte_sumsq", col("px")).as("energy"))
  }

  /** Windowed audio FRAMING — the analysis front-end every audio feature
    * pipeline starts with (VAD, MFCC, loudness normalization all consume
    * fixed frames, not whole clips): slice the PCM payload into
    * `frame`-sample windows and fold each into energy (sum of squares)
    * and center-relative peak. One Generate (frame offsets) + per-frame
    * codegen'd byte folds over binary substrings — no per-sample explode
    * (the array-of-samples formulation would move n_samples rows per clip
    * through the plan; this moves n_samples/frame), no shuffle, corpus
    * stays put. All-integer outputs; the oracle recomputes every frame
    * from the source text bytes. */
  def wavFrames(s: SparkSession, d: String, frame: Int = 64): DataFrame =
    packAsWav(Tables.documents(s, d))
      .withColumn("n", (length(col("aud")) - 44).cast("long"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("aud"),
        explode(expr(s"sequence(1, CAST(n AS INT), $frame)")).as("off"))
      .withColumn("fb", expr(s"substring(aud, 44 + off, $frame)"))
      .select(col("doc_id"),
        expr(s"CAST((off - 1) DIV $frame AS BIGINT)").as("frame_id"),
        length(col("fb")).cast("long").as("n_samp"),
        call_function("byte_sumsq", col("fb")).as("energy"),
        greatest(call_function("byte_max", col("fb")) - 128L,
          lit(128L) - call_function("byte_min", col("fb"))).as("peak"))
      .orderedBy("doc_id", "frame_id")

  private def wavFramesOracle(frame: Int): String =
    s"""WITH c AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
       |  FROM documents WHERE text IS NOT NULL AND length(text) >= 1),
       |fr AS (SELECT doc_id, text, n,
       |              unnest(range(1, n + 1, $frame)) AS off FROM c),
       |s AS (SELECT doc_id, CAST((off - 1) // $frame AS BIGINT) AS frame_id,
       |             list_transform(range(off, least(off + $frame, n + 1)),
       |               i -> ord(substr(text, CAST(i AS INT), 1))) AS codes
       |      FROM fr)
       |SELECT doc_id, frame_id, CAST(len(codes) AS BIGINT) AS n_samp,
       |       CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS energy,
       |       greatest(CAST(list_max(codes) AS BIGINT) - 128,
       |                128 - CAST(list_min(codes) AS BIGINT)) AS peak
       |FROM s ORDER BY doc_id, frame_id""".stripMargin

  private def wavOracle: String =
    s"""WITH c AS (
       |  SELECT doc_id, CAST($wavRate AS BIGINT) AS sample_rate,
       |         CAST(length(text) AS BIGINT) AS n_samples,
       |         list_transform(range(1, CAST(length(text) + 1 AS BIGINT)),
       |           i -> ord(substr(text, CAST(i AS INT), 1))) AS codes
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, sample_rate, n_samples,
       |       CAST(n_samples AS DOUBLE) / $wavRate AS duration_sec,
       |       greatest(CAST(list_max(codes) AS BIGINT) - 128,
       |                128 - CAST(list_min(codes) AS BIGINT)) AS peak,
       |       CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS energy
       |FROM c ORDER BY doc_id""".stripMargin

  /** Ground truth from the SOURCE text (ASCII ⇒ byte ≡ char code), fully
    * independent of the packed payload and the decoder's parsing. */
  private def pgmOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) // $pgmW AS hh FROM documents
       |  WHERE length(text) // $pgmW > 0),
       |c AS (
       |  SELECT doc_id, CAST($pgmW AS BIGINT) AS w, CAST(hh AS BIGINT) AS h,
       |         CAST($pgmW * hh AS BIGINT) AS px_n,
       |         list_transform(range(1, CAST($pgmW * hh + 1 AS BIGINT)),
       |           i -> ord(substr(text, CAST(i AS INT), 1))) AS codes
       |  FROM d)
       |SELECT doc_id, w, h, px_n,
       |       CAST(list_sum(codes) AS BIGINT) AS px_sum,
       |       CAST(list_min(codes) AS BIGINT) AS px_min,
       |       CAST(list_max(codes) AS BIGINT) AS px_max,
       |       CAST(list_sum(codes) AS DOUBLE) / px_n AS px_mean
       |FROM c ORDER BY doc_id""".stripMargin

  /** COLOR + VIDEO decode — the q_multimodal centerpiece since round 10:
    * each document packs as a MULTI-FRAME binary netpbm P6 "film strip" (a
    * standard raw-video layout: one header `P6\n{w} {h}\n255\n` whose
    * height is frame_h × n_frames, then vertically-stacked interleaved-RGB
    * frames), carried next to a typed metadata struct (mime + frame_h —
    * the container metadata a real demuxer provides). [[multimodalFeatures]]
    * then decodes WITHOUT looking at the source text: header parse → pixel
    * slice → per-CHANNEL statistics via the strided byte folds
    * ([[graft.expr.ByteFoldStride]] — R at offset 0 stride 3, G at 1, B at
    * 2) → REAL frame sampling (4 evenly-spaced frames sliced from the
    * PIXEL section at offsets computed from the PARSED frame count, each
    * hashed and channel-folded). The oracle recomputes every feature from
    * the SOURCE text independently (the q_media_decode discipline — ASCII
    * corpus, so byte ≡ char code), so a header, stride, or frame-offset
    * bug fails the hash gate. No stub column remains. */
  private val ppmW = 8
  private val ppmFrameH = 4
  private val ppmFrameBytes = ppmW * ppmFrameH * 3 // 96
  private val nSampledFrames = 4

  def packAsPpm(docs: DataFrame): DataFrame = {
    val nf = floor(length(col("text")) / ppmFrameBytes)
    docs
      .filter(col("text").isNotNull && nf > 0)
      .select(col("doc_id"),
        concat(
          concat(lit(s"P6\n$ppmW "), (nf * ppmFrameH).cast("string"),
            lit("\n255\n")).cast("binary"),
          expr(s"substring(CAST(text AS BINARY), 1, " +
            s"CAST($ppmFrameBytes * (length(text) DIV $ppmFrameBytes) AS INT))")).as("img"),
        struct(
          lit("image/x-portable-pixmap").as("mime"),
          lit(ppmFrameH.toLong).as("frame_h")).as("meta"))
  }

  /** P6 header parse + pixel slice + frame count — same bounded-dims /
    * corrupt-header-to-NULL contract as [[parsedImg]], ×3 bytes per
    * pixel; `nf` derives from the PARSED height and the metadata
    * frame_h, exactly how a raw-video demuxer turns container metadata
    * into frame offsets. */
  private[llm] def parsedPpm(packed: DataFrame): DataFrame = {
    val pat = "^P6\\n(\\d{1,9}) (\\d{1,9})\\n255\\n"
    val headWindow = 3 + 9 + 1 + 9 + 5
    packed
      .withColumn("head", substring(col("img"), 1, headWindow).cast("string"))
      .withColumn("hdr", regexp_extract(col("head"), pat, 0))
      .withColumn("w", when(col("hdr") =!= "",
        regexp_extract(col("head"), pat, 1).cast("long")))
      .withColumn("h", when(col("hdr") =!= "",
        regexp_extract(col("head"), pat, 2).cast("long")))
      // ×3 channels: 9-digit dims × 3 still fit Long; Int-cast clamp is
      // null-preserving (see parsedImg)
      .withColumn("px",
        expr("substring(img, length(hdr) + 1, CAST(CASE WHEN w * h * 3 > 2147483647" +
          " THEN 2147483647 ELSE w * h * 3 END AS INT))"))
      .withColumn("nf", expr("h DIV meta.frame_h"))
  }

  def multimodalFeatures(s: SparkSession, d: String): DataFrame = {
    val fb = ppmFrameBytes
    def chanFold(f: String, off: Int) =
      call_function(f, col("px"), lit(off), lit(3))
    // sampled frame j (0-based) starts at pixel-section byte
    // (j·nf DIV nSampled)·frameBytes — indices come from the PARSED nf
    def frameAt(j: String) = s"substring(px, CAST(($j * nf DIV $nSampledFrames) * $fb + 1 AS INT), $fb)"
    parsedPpm(packAsPpm(Tables.documents(s, d)))
      .select(col("doc_id"), col("meta.mime").as("mime"),
        col("w"), col("h"), col("nf"),
        chanFold("byte_sum_stride", 0).as("r_sum"),
        chanFold("byte_sum_stride", 1).as("g_sum"),
        chanFold("byte_sum_stride", 2).as("b_sum"),
        chanFold("byte_max_stride", 0).as("r_max"),
        chanFold("byte_min_stride", 2).as("b_min"),
        expr(s"array_join(transform(sequence(0, ${nSampledFrames - 1}), " +
          s"j -> md5(${frameAt("j")})), ',')").as("frames_md5"),
        expr(s"array_join(transform(sequence(0, ${nSampledFrames - 1}), " +
          s"j -> CAST(byte_sum_stride(${frameAt("j")}, 0, 3) AS STRING)), ',')")
          .as("frames_rsum"))
      .orderedBy("doc_id")
  }

  /** Ground truth from the source text: strided channel sums, frame md5s
    * at the same sampled offsets, per-frame R sums — all via list
    * arithmetic over character codes, independent of the packed bytes. */
  private def multimodalOracle: String = {
    val fb = ppmFrameBytes
    val ns = nSampledFrames
    val ppr = ppmFrameBytes / 3 // pixels per frame
    def chan(off: Int) =
      s"list_transform(range(0, pn // 3), k -> ord(substr(text, CAST(3 * k + ${off + 1} AS INT), 1)))"
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) // $fb AS nf FROM documents
       |  WHERE text IS NOT NULL AND length(text) // $fb > 0),
       |c AS (
       |  SELECT doc_id, text, nf, CAST($ppmW AS BIGINT) AS w,
       |         CAST($ppmFrameH * nf AS BIGINT) AS h, $fb * nf AS pn
       |  FROM d)
       |SELECT doc_id, 'image/x-portable-pixmap' AS mime, w, h,
       |       CAST(nf AS BIGINT) AS nf,
       |       CAST(list_sum(${chan(0)}) AS BIGINT) AS r_sum,
       |       CAST(list_sum(${chan(1)}) AS BIGINT) AS g_sum,
       |       CAST(list_sum(${chan(2)}) AS BIGINT) AS b_sum,
       |       CAST(list_max(${chan(0)}) AS BIGINT) AS r_max,
       |       CAST(list_min(${chan(2)}) AS BIGINT) AS b_min,
       |       array_to_string(list_transform(range(0, $ns),
       |         j -> md5(substr(text, CAST((j * nf // $ns) * $fb + 1 AS INT), $fb))), ',') AS frames_md5,
       |       array_to_string(list_transform(range(0, $ns),
       |         j -> CAST(CAST(list_sum(list_transform(range(0, $ppr),
       |                k -> ord(substr(text, CAST((j * nf // $ns) * $fb + 3 * k + 1 AS INT), 1)))) AS BIGINT) AS VARCHAR)), ',') AS frames_rsum
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Perceptual-hash IMAGE dedup — the near-duplicate-image removal stage
    * of a multimodal corpus pipeline (aHash family: pHash/aHash dedup is
    * how production pipelines drop re-encoded/resized copies of one
    * image). Ties the decode machinery to the dedup family: the hash is
    * computed from the DECODED bitmap ([[parsedImg]]'s pixel slice), not
    * from the raw payload bytes — two files with different headers but
    * near-identical pixels collide, which is the point.
    *
    * Hash: 64 evenly-sampled pixels, bit j = (sample_j > image mean) —
    * an aHash with point sampling in place of box means, kept in EXACT
    * integer arithmetic (`sample·n > sum` avoids the mean divide) so the
    * DuckDB oracle replays it bit-for-bit from the source text. Packed as
    * two non-negative 32-bit halves (h0 = bits 0..31, h1 = 32..63) so
    * hamming distance is two codegen'd `bit_count(xor)` calls and no
    * sign-bit edge exists in either engine.
    *
    * Candidate generation is Hamming-LSH: 4 bands of 16 bits; docs
    * sharing any identical band pair up, then verify hamming ≤ `maxHam`.
    * Recall contract (pigeonhole): distance ≤ 3 is GUARANTEED a clean
    * band; larger distances may be missed when the differing bits spread
    * across all 4 bands — the standard banding trade, same as
    * [[Dedup.simhashDocs]]'s. `maxBucket` caps the per-bucket join
    * exactly as [[Dedup.near]]'s hot-bucket cap (a mono-color image
    * cluster is the image-side boilerplate case), replayed in the
    * oracle. Scale shape: per-doc state is two longs; only banded
    * 16-bit keys shuffle; the verify join carries candidate ids + two
    * longs per side — O(candidate pairs), never the corpus. */
  def phashPairs(s: SparkSession, d: String, maxHam: Int = 8,
                 maxBucket: Int = 64): DataFrame = {
    val parsed = parsedImg(packAsPgm(Tables.documents(s, d)))
      .filter(col("h") >= 2)
      .select(col("doc_id"), col("px"))
      .withColumn("pn", length(col("px")).cast("long"))
      .withColumn("ps", call_function("byte_sum", col("px")))
    def bit(j: Int): Column =
      when(call_function("byte_sum",
        expr(s"substring(px, CAST(($j * pn) DIV 64 + 1 AS INT), 1)"))
        * col("pn") > col("ps"), 1L).otherwise(0L)
    val h0 = (0 until 32).map(j => bit(j) * lit(1L << j)).reduce(_ + _)
    val h1 = (32 until 64).map(j => bit(j) * lit(1L << (j - 32))).reduce(_ + _)
    val hashes = parsed.select(col("doc_id"), h0.as("h0"), h1.as("h1"))
    def bandStruct(b: Int, c: Column) =
      struct(lit(b).as("band"), c.cast("long").as("sig"))
    val banded0 = hashes.select(col("doc_id"), explode(array(
        bandStruct(0, col("h0").bitwiseAND(65535)),
        bandStruct(1, shiftright(col("h0"), 16)),
        bandStruct(2, col("h1").bitwiseAND(65535)),
        bandStruct(3, shiftright(col("h1"), 16)))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // cap + self-join + distinct: the shared LSH skeleton
    val cand = Dedup.bandedCandidates(banded0, "doc_id", Some(maxBucket),
      "doc_a", "doc_b")
    cand
      .join(hashes.select(col("doc_id").as("doc_a"),
        col("h0").as("a0"), col("h1").as("a1")), "doc_a")
      .join(hashes.select(col("doc_id").as("doc_b"),
        col("h0").as("b0"), col("h1").as("b1")), "doc_b")
      .withColumn("hamming",
        expr("CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) AS BIGINT)"))
      .filter(col("hamming") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderedBy("doc_a", "doc_b")
  }

  /** Replays the hash from the SOURCE text (the pixel bytes are the first
    * 32·⌊len/32⌋ characters — the multimodalOracle convention), then the
    * banding, cap, self-join, and hamming verify in pure SQL. */
  private def phashOracle(maxHam: Int, maxBucket: Int): String =
    s"""WITH d AS (
       |  SELECT doc_id, text, CAST(32 * (length(text) // 32) AS BIGINT) AS pn
       |  FROM documents WHERE length(text) // 32 >= 2),
       |c AS (
       |  SELECT doc_id, pn,
       |    CAST(list_sum(list_transform(range(1, pn + 1),
       |      i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS ps,
       |    list_transform(range(0, 64),
       |      j -> ord(substr(text, CAST(j * pn // 64 + 1 AS INT), 1))) AS sm
       |  FROM d),
       |b AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 32),
       |      j -> CASE WHEN sm[CAST(j + 1 AS INT)] * pn > ps
       |           THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS h0,
       |    CAST(list_sum(list_transform(range(0, 32),
       |      j -> CASE WHEN sm[CAST(j + 33 AS INT)] * pn > ps
       |           THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS h1
       |  FROM c),
       |bands AS (
       |  SELECT doc_id, 0 AS band, h0 % 65536 AS sig FROM b
       |  UNION ALL SELECT doc_id, 1, h0 // 65536 FROM b
       |  UNION ALL SELECT doc_id, 2, h1 % 65536 FROM b
       |  UNION ALL SELECT doc_id, 3, h1 // 65536 FROM b),
       |bc AS (SELECT band, sig FROM bands GROUP BY band, sig
       |       HAVING count(*) <= $maxBucket),
       |bk AS (SELECT bands.* FROM bands JOIN bc USING (band, sig)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bk x JOIN bk y
       |           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |p AS (
       |  SELECT doc_a, doc_b,
       |         CAST(bit_count(xor(a.h0, bb.h0))
       |            + bit_count(xor(a.h1, bb.h1)) AS BIGINT) AS hamming
       |  FROM cand JOIN b a ON a.doc_id = doc_a JOIN b bb ON bb.doc_id = doc_b)
       |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $maxHam
       |ORDER BY doc_a, doc_b""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "q_dedup_phash" -> QueryDef(phashPairs(_, _), Some(phashOracle(8, 64))),
    "q_media_decode" -> QueryDef(pgmDecode, Some(pgmOracle)),
    "q_media_streamed" -> QueryDef(pgmStreamed, Some(pgmOracle)),
    "q_audio_decode" -> QueryDef(wavDecode, Some(wavOracle)),
    // the feature-extraction front-end shape: fixed windows over the PCM
    // payload, per-frame energy/peak via the codegen'd byte folds
    "q_audio_frames" -> QueryDef(wavFrames(_, _), Some(wavFramesOracle(64))),
    "q_media_resize" -> QueryDef(pgmResize, Some(pgmResizeOracle)),
    "q_multimodal" -> QueryDef(multimodalFeatures(_, _), Some(multimodalOracle))
  )
}
