package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.{ModelFormats, Multimodal}
import graft.ops.Multimodal.MediaRow
import scala.reflect.runtime.universe.TypeTag

/** Multimodal plumbing queries: binary payload ingest, stub decode via a
  * typed mapPartitions pipeline, frame sampling. Payloads here are UTF-8
  * text bytes (ASCII corpus), so every byte-level operation has an exact
  * varchar oracle in DuckDB.
  */
object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ingest → typed partition-wise decode → features. The 8-dim
    // embedding array is flattened to scalar columns in the FINAL
    // projection only (the driver's pandas compare can't sort ndarray
    // cells); the typed Array[Double] pipeline runs intact upstream.
    "q_multimodal_features" -> ((s: SparkSession, d: String) => {
      val feats = Multimodal.decode(
        Multimodal.asMedia(scan(s, d, "documents"), "doc_id", "text"))(Multimodal.decodeStub)
      val embCols = (0 until 8).map(i => col("embedding")(i).as(s"e$i"))
      feats.select(col("media_id") +: col("mime") +: col("n_bytes") +:
          col("content_hash") +: embCols: _*)
        .orderBy(col("media_id"))
    }),

    // "resize": every-3rd-byte downsample (stub for a pixel rescale —
    // the binary-in/binary-out in-plan shape); md5 of the result pins
    // the exact output bytes
    "q_multimodal_resize" -> ((s: SparkSession, d: String) => {
      Multimodal.resizeStub(
        Multimodal.asMedia(scan(s, d, "documents"), "doc_id", "text"), stride = 3)
        .select(col("media_id"), col("orig_bytes"), col("resized_bytes"),
          md5(col("resized")).as("resized_md5"))
        .orderBy(col("media_id"))
    }),

    // content-addressed chunk store census — the blob-dedup op: binary
    // payloads split into fixed 64-byte chunks, each addressed by md5;
    // the global (total, distinct, shared) census is the storage-dedup
    // ratio a 100 TB media lake banks on. Pure per-row explode + one
    // groupBy on the 128-bit address — linear, no pairwise compare
    "q_multimodal_chunkstore" -> ((s: SparkSession, d: String) => {
      val media = Multimodal.asMedia(scan(s, d, "documents"), "doc_id", "text")
      val nChunks = ceil(length(col("payload")) / lit(64.0)).cast("int")
      // empty-payload guard: sequence(0, -1) counts DOWN ([0, -1]), which
      // would emit two md5("") chunks where the oracle's range(0, 0)
      // emits none — same pitfall as CorpusOps.wordNgrams
      val chunks = media.select(explode(
        when(length(col("payload")) > 0,
          transform(sequence(lit(0), nChunks - 1),
            i => md5(col("payload").substr(i * lit(64) + 1, lit(64)))))
          .otherwise(array().cast("array<string>"))).as("h"))
      chunks.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_shared"))
    }),

    // REAL image decode end-to-end: deterministic P6 PPM fixtures
    // (header with a comment line + analytic raster formula) parsed by
    // the genuine byte-level decoder (Multimodal.decodePpm); the oracle
    // recomputes dimensions and exact channel sums from the same formula
    // WITHOUT parsing — so a parser bug (offset, comment handling,
    // channel order) can't be mirrored
    "q_multimodal_ppm" -> decoded(Multimodal.syntheticPpm, Multimodal.decodePpm),

    // REAL image decode #2: deterministic 24-bit BI_RGB BMP fixtures
    // (bottom-up scanlines, nonzero stride padding, BGR order) parsed
    // by the genuine little-endian header walker (Multimodal.decodeBmp);
    // row0_sum witnesses the bottom-up row order, so a file-order
    // decoder cannot pass. The oracle recomputes dimensions, channel
    // sums and the top-row sum from the fixture formula WITHOUT
    // parsing a byte
    "q_multimodal_bmp" -> decoded(Multimodal.syntheticBmp, Multimodal.decodeBmp),

    // REAL image decode #3: QOI (qoiformat.org) — fixtures written by a
    // genuine greedy QOI ENCODER (run/index/diff/luma/rgb op selection
    // with the live 64-slot color index) and replayed by the full-spec
    // DECODER (Multimodal.decodeQoi). The every-7th-pixel repeat forces
    // RUN ops and the quadratic channel formula mixes DIFF/LUMA/RGB;
    // wsum = Σ p·(r+g+b) witnesses pixel POSITIONS, which a mis-replayed
    // run/index stream shifts even when totals survive. Oracle is the
    // analytic formula — no byte is parsed there
    "q_multimodal_qoi" -> decoded(Multimodal.syntheticQoi, Multimodal.decodeQoi),

    // REAL image decode #4: binary PBM (netpbm P4) — the packed-BIT
    // format: MSB-first bit raster with don't-care row padding the
    // fixture poisons with 1s, so a decoder that reads past `w` bits
    // per row cannot pass. Oracle recomputes the black census from the
    // (id + 3x + 7y) mod 5 formula WITHOUT touching a byte
    "q_multimodal_pbm" -> decoded(Multimodal.syntheticPbm, Multimodal.decodePbm),

    // REAL music decode: Standard MIDI Files walked by the genuine
    // VLQ/event parser (multi-byte delta-times, note-on/off, meta
    // end-of-track, exact declared-length framing check). total_ticks
    // witnesses every VLQ continuation bit; the oracle sums the
    // fixture formulas WITHOUT parsing a byte
    "q_multimodal_midi" -> decoded(Multimodal.syntheticMidi, Multimodal.decodeMidi),

    // REAL 3D decode: Wavefront OBJ triangle-fan meshes parsed by the
    // genuine line walker (comments, vn skip, index-suffix stripping,
    // bounds-checked 1-based faces, undirected edge dedup). The Euler
    // characteristic V−E+F = 1 is the topology witness; the oracle
    // computes counts and coordinate sums from the fan formula WITHOUT
    // parsing a line
    "q_multimodal_obj" -> decoded(Multimodal.syntheticObj, Multimodal.decodeObj),

    // REAL audio codec #2: G.711 µ-law companding (ITU-T telephony) —
    // fixtures companded by the genuine encoder (clip → bias → MSB
    // segment → 4-bit mantissa → complement), replayed by the genuine
    // expander. The oracle reproduces expand(compress(s)) in closed-
    // form CASE/integer arithmetic from the analytic sample formula —
    // the companded bytes exist only in the binary
    "q_multimodal_ulaw" -> decoded(Multimodal.syntheticUlaw, Multimodal.decodeUlaw),

    // REAL container decode: TFRecord framing (the de-facto training-
    // shard format) — u64 length + masked-CRC32C of the length bytes +
    // payload + masked-CRC32C of the payload, all verified per record
    // by the genuine Castagnoli table walker (Multimodal.decodeTfRecord).
    // wsum witnesses record POSITIONS, so a mis-sized walk can't pass;
    // the oracle recomputes counts and sums from the fixture formula
    // WITHOUT parsing a byte (the CRCs exist only in the binary)
    "q_multimodal_tfrecord" -> decoded(Multimodal.syntheticTfRecord, Multimodal.decodeTfRecord),

    // REAL audio decode end-to-end: deterministic RIFF/WAV 16-bit PCM
    // fixtures (fmt + junk LIST chunk + data, analytic sample formula)
    // parsed by the genuine chunk-walking decoder (Multimodal.decodeWav);
    // the oracle recomputes format fields and exact per-channel sums
    // from the same formula WITHOUT parsing — a parser bug (endianness,
    // chunk skip, channel interleave) can't be mirrored
    "q_multimodal_wav" -> decoded(Multimodal.syntheticWav, Multimodal.decodeWav),

    // REAL image-metadata decode: deterministic JPEG marker streams
    // (JFIF APP0 + 1–2 variable-length COM segments + SOF0/SOF2) parsed
    // by the genuine big-endian segment walker
    // (Multimodal.decodeJpegHeader) — the metadata-only sizing pass a
    // real ingest runs without decoding entropy data; the oracle
    // recomputes dimensions/flags from the fixture formula WITHOUT
    // parsing a byte
    "q_multimodal_jpeg" -> decoded(Multimodal.syntheticJpeg, Multimodal.decodeJpegHeader),

    // PERCEPTUAL HASH over decoded rasters: real byte-level P6 parse →
    // 60-bit dHash (11×6 nearest-neighbor grid, adjacent-brightness
    // comparisons — Multimodal.decodePpmPhash). The fixture plants a
    // perturbed twin per id%4=0 (EntityResolution.dirtyRecords pattern);
    // the oracle recomputes every hash bit from the analytic formula
    // WITHOUT parsing a byte, so a parser/sampling/bit-order bug cannot
    // be mirrored
    "q_multimodal_phash" -> ((s: SparkSession, d: String) => {
      Multimodal.decode(Multimodal.syntheticPpmPairs(scan(s, d, "documents"), "doc_id"))(
        Multimodal.decodePpmPhash)
        .orderBy(col("media_id"))
    }),

    // IMAGE NEAR-DUP pairs: the perceptual fingerprints above through
    // the same 15-bit-chunk pigeonhole blocking the text tier uses
    // (Dedup.simhashPairs), pre-partitioned on (width, height, row-0
    // band) — candidates are Σ(N_block²)/2^15, output is linear in the
    // planted twins. The media twin of q_dedup_simhash_blocked
    "q_multimodal_neardup" -> ((s: SparkSession, d: String) => {
      phashPairs(s, d).orderBy(col("media_a"), col("media_b"))
    }),

    // AUDIO PERCEPTUAL FINGERPRINT over decoded PCM: real RIFF walk →
    // 61 segment energies (seg(j) = ⌊j·61/n⌋, the one formula both
    // engines compute) → 60-bit sign-of-energy-delta hash
    // (Haitsma–Kalker shape). Oracle recomputes every bit from the
    // analytic sample formula WITHOUT parsing a byte
    "q_multimodal_afp" -> ((s: SparkSession, d: String) => {
      Multimodal.decode(Multimodal.syntheticWavPairs(scan(s, d, "documents"), "doc_id"))(
        Multimodal.decodeWavAfp)
        .orderBy(col("media_id"))
    }),

    // AUDIO NEAR-DUP pairs: the fingerprints above through the same
    // 15-bit-chunk pigeonhole blocking as the image/text tiers,
    // pre-partitioned on (n_samples, low-band); planted twins keep the
    // output linear. The audio twin of q_multimodal_neardup
    "q_multimodal_afp_pairs" -> ((s: SparkSession, d: String) => {
      Multimodal.nearDupPairs(
        Multimodal.decode(Multimodal.syntheticWavPairs(scan(s, d, "documents"), "doc_id"))(
          Multimodal.decodeWavAfpBanded),
        "afp", Seq("n_samples", "band"))
        .orderBy(col("media_a"), col("media_b"))
    }),

    // IMAGE DEDUP CLUSTERS: the near-dup pairs resolved into components
    // (Dedup.connectedComponents, the same step the text tier runs in
    // q_dedup_clusters) and censused per cluster.
    // Pairs → clusters → keep-one is the complete media-dedup loop
    "q_multimodal_dedup" -> ((s: SparkSession, d: String) => {
      val pairs = phashPairs(s, d)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
      graft.ops.Dedup.connectedComponents(pairs)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("cluster"))
    }),

    // REAL animation-container decode: deterministic GIF89a streams
    // (logical screen descriptor + color tables + GCE delays + COMMENT
    // extensions + LZW data sub-blocks) walked by the genuine
    // length-prefixed block parser (Multimodal.decodeGif) — the frame
    // census a video ingest runs WITHOUT decoding rasters; the oracle
    // recomputes frames/dims/delays from the fixture formula
    "q_multimodal_gif" -> decoded(Multimodal.syntheticGif, Multimodal.decodeGif),

    // REAL compressed-raster decode: deterministic 8-bit grayscale PNGs
    // (multi-IDAT, per-chunk CRC-32, scanline filters cycling through
    // all five types) decoded by the genuine chunk walk + zlib INFLATE
    // + filter reconstruction (Multimodal.decodePng — the first decoder
    // whose payload is actually compressed); the oracle recomputes
    // dimensions, raster sum, brightness census, and the per-filter
    // scanline counts from the fixture formula WITHOUT touching a byte,
    // so a walk/inflate/unfilter bug cannot be mirrored
    "q_multimodal_png" -> decoded(Multimodal.syntheticPng, Multimodal.decodePng),

    // REAL archive-container decode: deterministic USTAR shards (the
    // WebDataset layout LLM multimodal pipelines actually use) walked
    // by the genuine 512-block parser — magic + header CHECKSUM
    // verified per member, octal sizes, payload bytes actually read
    // (content_sum), padding arithmetic, two-zero-block trailer
    // required; the oracle recomputes every stat (member sizes, body
    // byte sums, the 512-padding archive length) from the fixture
    // formula WITHOUT touching a byte
    "q_multimodal_tar" -> decoded(Multimodal.syntheticTar, Multimodal.decodeTar),

    // REAL MP3 FRAME WALK — 18th container format and the first
    // SYNC-WORD stream (every prior walker had a length-prefixed or
    // directory structure; MP3 frame lengths are IMPLICIT in the
    // header's bitrate/samplerate/padding bits, so the walker's table
    // lookups are load-bearing on every frame), plus the ID3v2
    // syncsafe-size skip (7 bits per byte — a naive u32 read overshoots
    // whenever any size byte ≥ 0x80). Decoder reads the real ISO tables;
    // oracle replays the fixture formula
    "q_multimodal_mp3" -> decoded(Multimodal.syntheticMp3, Multimodal.decodeMp3),

    // REAL ZIP DECODE — 17th container format, second archive walker:
    // EOCD backward scan, central directory walk with local-header
    // cross-checks, per-entry REAL decompression (stored + raw-deflate
    // Inflater) verified against the directory CRC-32s; output fields
    // are exactly the formula-replayable ones (deflate sizes depend on
    // the compressor, so they never appear)
    "q_multimodal_zip" -> decoded(Multimodal.syntheticZip, Multimodal.decodeZip),

    // REAL WARC DECODE — 19th container format and the entry point of
    // every crawl-based LLM pipeline (Common Crawl is WARC): per-record
    // gzip-member framing (header + CRC-32 + ISIZE trailer verified),
    // WARC/1.0 header parse, Content-Length-exact record framing,
    // response-record census with the HTTP head/payload split (the
    // payload byte sum proves the split point). Oracle replays the
    // fixture formula without parsing a byte
    "q_multimodal_warc" -> decoded(Multimodal.syntheticWarc, Multimodal.decodeWarc),

    // END-TO-END CRAWL FUNNEL — the composition a Common-Crawl-shaped
    // ingest actually runs, in one registry entry: verified WARC walk →
    // HTTP-200 response payloads as a relation → real HTML parse per
    // page → extraction-volume quality gate (pages with ≥ 259 decoded
    // text chars ⇔ ≥ 20 fixture words). The fixture's response bodies
    // ARE HTML, so every stage exercises its real decoder; per-doc
    // output joins the record census with the parse census (docs whose
    // only response 404'd keep a zero row). Oracle replays the formulas
    "q_crawl_funnel" -> ((s: SparkSession, d: String) => {
      import graft.ops.CacheScope.ScopedPersist
      val warc = Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(
        Multimodal.syntheticCrawlWarc)
        .scopedPersist() // feeds the stats walk AND the payload walk
      val stats = Multimodal.decode(warc)(Multimodal.decodeWarc)
        .select(col("media_id"), col("n_members").as("n_records"), col("n_ok"))
      val pages = Multimodal.decode(Multimodal.decode(warc)(Multimodal.decodeWarcResponses))(
        Multimodal.decodeHtml)
      val pcensus = pages.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_parsed"),
          sum(col("text_chars")).as("text_chars"),
          sum(when(col("text_chars") >= 259, 1L).otherwise(0L)).as("n_kept"))
      stats.join(pcensus, Seq("media_id"), "left")
        .select(col("media_id"), col("n_records"), col("n_ok"),
          coalesce(col("n_parsed"), lit(0L)).as("n_parsed"),
          coalesce(col("text_chars"), lit(0L)).as("text_chars"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("media_id"))
    }),

    // LINK-GRAPH EXTRACTION over the validated HTML walk — the crawl
    // frontier census: anchors re-scanned into a link RELATION (the
    // member-relation pattern), hrefs parsed to target pages, and the
    // in-degree distribution over the page namespace aggregated as
    // plain Spark groupBys — PageRank's input shape straight off the
    // markup walker. Oracle rebuilds the edge list from the formula
    "q_multimodal_links" -> ((s: SparkSession, d: String) => {
      val links = Multimodal.decode(Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(
        Multimodal.syntheticHtmlLinks))(Multimodal.decodeHtmlLinks)
      val edges = links.select(col("media_id").as("src"),
        regexp_extract(col("href"), "/doc/([0-9]+)", 1).cast("long").as("dst"))
      edges.groupBy(col("dst"))
        .agg(count(lit(1)).as("in_deg"), countDistinct(col("src")).as("n_srcs"))
        .groupBy(col("in_deg"))
        .agg(count(lit(1)).as("n_pages"), min(col("dst")).as("first_page"),
          sum(col("n_srcs")).as("sum_srcs"))
        .orderBy(col("in_deg"))
    }),

    // REAL robots.txt PARSE — 22nd format, the politeness gate before
    // the WARC fetch: RFC 9309 group parse (UA runs, rule attachment,
    // loud orphan rules), Crawl-delay/Sitemap extensions, and the real
    // access-decision semantics (most specific group, NO fallback
    // merge, longest-path match, Allow wins ties) evaluated on a fixed
    // probe set. Oracle replays the analytic decisions
    "q_multimodal_robots" -> decoded(Multimodal.syntheticRobots, Multimodal.decodeRobots),

    // REAL HTML TOKENIZE — 21st format, the step between the WARC
    // response payload and the text tier: character-level markup walk
    // with a real element stack (no regex), raw-text script/style skip
    // per the parsing spec, entity decode, visible-text volume, max
    // nesting depth. Oracle replays the fixture formula
    "q_multimodal_html" -> decoded(Multimodal.syntheticHtml, Multimodal.decodeHtml),

    // REAL PDF DECODE — 20th container format, the dominant document-
    // corpus format: classic xref-table walk (20-byte entries, offsets
    // dereferenced and cross-checked against object headers),
    // /Length-framed stream skip with endstream required at the exact
    // boundary, Tj/TJ text-op census with literal byte counts — the
    // extraction-volume triage a text pipeline runs before committing
    // to full extraction. Oracle replays the fixture formula
    "q_multimodal_pdf" -> decoded(Multimodal.syntheticPdf, Multimodal.decodePdf),

    // REAL SAFETENSORS DECODE — 23rd format, the HuggingFace weight
    // container a model registry ingests: u64 header length, JSON
    // tensor map, and the offset-tiling invariant (sorted data_offsets
    // must cover the data section exactly) VERIFIED per file; dtype
    // census + exact parameter/byte mass + raw-data byte sum. Oracle
    // replays the fixture formula without parsing a byte
    "q_multimodal_safetensors" -> decoded(ModelFormats.syntheticSafetensors, ModelFormats.decodeSafetensors),

    // REAL NPY DECODE — 24th format, the NumPy array file embeddings
    // and labels ship in: magic/version/u16 header length, Python-dict
    // header parse (descr, fortran_order, shape tuple), 64-alignment
    // and total-length validation, exact little-endian i32 element sum
    // (the endianness witness). Oracle replays the fixture formula
    "q_multimodal_npy" -> decoded(ModelFormats.syntheticNpy, ModelFormats.decodeNpy),

    // REAL GGUF DECODE — 25th format, the llama.cpp model container:
    // typed metadata-KV walk (string/u32/u64/i32-array), tensor infos
    // with every stored offset VERIFIED against the recomputed
    // 32-aligned running offset, data byte sum over the real tensor
    // spans (padding excluded — the alignment witness). Oracle replays
    // the fixture formula including the alignment arithmetic
    "q_multimodal_gguf" -> decoded(ModelFormats.syntheticGguf, ModelFormats.decodeGguf),

    // NPZ COMPOSITION — NumPy archives as they actually ship
    // (embeddings/labels as .npz = NPY members inside a ZIP): the
    // validated zip walk re-emits each member's DECOMPRESSED payload as
    // a relation (both stored and raw-deflate paths run per archive),
    // the REAL NPY decoder runs per member, and the per-archive census
    // is a plain groupBy — two real walkers composed through one
    // mapPartitions chain. Oracle replays both fixture formulas
    "q_multimodal_npz" -> ((s: SparkSession, d: String) => {
      val payloads = Multimodal.decode(Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(
        ModelFormats.syntheticNpz))(Multimodal.decodeZipPayloads)
      Multimodal.decode(payloads)(ModelFormats.decodeNpy)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).cast("int").as("n_arrays"),
          sum(col("n_elems")).as("n_elems"),
          max(col("d0")).as("max_rows"), max(col("d1")).as("max_cols"),
          sum(col("data_sum")).as("data_sum"))
        .orderBy(col("media_id"))
    }),

    // REAL TIFF DECODE — 27th format, the scanned-document corpus
    // standard: II/MM byte-order mark with BOTH endiannesses exercised
    // (the fixture alternates them by id), 42 magic, full IFD entry
    // walk (SHORT/LONG value widths), baseline grayscale tags, strip
    // bounds verified, exact pixel-byte sum (the endianness witness).
    // Oracle replays the fixture formula
    "q_multimodal_tiff" -> decoded(Multimodal.syntheticTiff, Multimodal.decodeTiff),

    // REAL PROTOBUF tf.Example DECODE — 26th format, completing the
    // TFRecord story (q_multimodal_tfrecord walks the CRC32C framing;
    // this walks the protobuf INSIDE each frame): varint tags,
    // length-delimited submessages, the Features map, packed
    // int64/float lists — census by value kind with exact sum
    // witnesses (floats are fixture half-integers, summed as 2v).
    // Oracle replays the fixture formula
    "q_multimodal_tfexample" -> decoded(ModelFormats.syntheticTfExample, ModelFormats.decodeTfExample),

    // WEBDATASET-OVER-ZIP: the zip walker's member RELATION feeding the
    // same sample-assembly groupBy as the tar variant — shards come in
    // both containers in practice, and the audit (last sample's .cls
    // deliberately missing from the fixture) must find the incomplete
    // sample regardless of which archive carried it
    "q_multimodal_zipwds" -> ((s: SparkSession, d: String) => {
      val members = Multimodal.decode(Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(
        Multimodal.syntheticZipWds))(Multimodal.decodeZipMembers)
        .withColumn("skey", regexp_extract(col("name"), "sample([0-9]+)\\.", 1))
        .withColumn("ext", regexp_extract(col("name"), "\\.([a-z]+)$", 1))
      members.groupBy(col("media_id"), col("skey"))
        .agg(countDistinct(col("ext")).as("n_ext"),
          sum(when(col("ext") === "txt", col("size")).otherwise(0L)).as("tb"),
          sum(when(col("ext") === "cls", col("size")).otherwise(0L)).as("cb"))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_samples"),
          sum(when(col("n_ext") === 2, 1L).otherwise(0L)).as("n_complete"),
          sum(when(col("n_ext") < 2, 1L).otherwise(0L)).as("n_incomplete"),
          sum(col("tb")).as("txt_bytes"), sum(col("cb")).as("cls_bytes"))
        .orderBy(col("media_id"))
    }),

    // WEBDATASET SAMPLE ASSEMBLY: the tar walk emits a member RELATION
    // (one row per file through the checksum-verified walker), and
    // sample grouping — dir/sample<k>.{txt,cls} pairs into training
    // samples — is a plain Spark groupBy downstream, where it belongs.
    // The fixture omits the last sample's .cls on purpose; the audit's
    // job is to find it. Census per shard: samples, complete,
    // incomplete, per-extension byte mass
    "q_multimodal_wds" -> ((s: SparkSession, d: String) => {
      val members = Multimodal.decode(Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(
        Multimodal.syntheticWds))(Multimodal.decodeTarMembers)
        .withColumn("skey", regexp_extract(col("name"), "sample([0-9]+)\\.", 1))
        .withColumn("ext", regexp_extract(col("name"), "\\.([a-z]+)$", 1))
      members.groupBy(col("media_id"), col("skey"))
        .agg(countDistinct(col("ext")).as("n_ext"),
          sum(when(col("ext") === "txt", col("size")).otherwise(0L)).as("tb"),
          sum(when(col("ext") === "cls", col("size")).otherwise(0L)).as("cb"))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_samples"),
          sum(when(col("n_ext") === 2, 1L).otherwise(0L)).as("n_complete"),
          sum(when(col("n_ext") < 2, 1L).otherwise(0L)).as("n_incomplete"),
          sum(col("tb")).as("txt_bytes"), sum(col("cb")).as("cls_bytes"))
        .orderBy(col("media_id"))
    }),

    // REAL caption-track decode: deterministic SRT cue streams parsed
    // by the genuine block/timecode parser (Multimodal.decodeSrt) —
    // the transcript-side census a video ingest runs (cue count,
    // speech duration, text mass, max silence gap); the oracle
    // recomputes everything from the fixture formula, text lengths
    // included, via decimal-digit-count arithmetic
    "q_multimodal_srt" -> decoded(Multimodal.syntheticSrt, Multimodal.decodeSrt),

    // frame sampling: 16-byte frames, every 4th
    "q_multimodal_frames" -> ((s: SparkSession, d: String) => {
      Multimodal.sampleFrames(
        Multimodal.asMedia(scan(s, d, "documents"), "doc_id", "text"),
        frameBytes = 16, stride = 4)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).as("frame_len"),
          md5(col("frame")).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // REAL video-container decode: deterministic ISO-BMFF (MP4) streams
    // walked by the genuine nested box parser (Multimodal.decodeMp4 —
    // big-endian u32 sizes with the size==1 u64-largesize and size==0
    // runs-to-EOF escapes, v0/v1 version-switched mvhd/tkhd/mdhd,
    // descend-known/skip-unknown recursion down moov→trak→mdia→minf→
    // stbl→stsd) emitting the per-TRACK relation a video ingest
    // catalogs first: handler, codec fourcc, timescales, durations,
    // packed 5-bit language — plus the exact per-track milliseconds as
    // in-plan integer arithmetic. The oracle recomputes the whole
    // relation from the fixture formula WITHOUT parsing a byte
    "q_multimodal_mp4" -> ((s: SparkSession, d: String) => {
      Multimodal.decode(Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(
        Multimodal.syntheticMp4))(Multimodal.decodeMp4)
        .withColumn("dur_ms", expr("md_duration * 1000 div md_timescale"))
        .orderBy(col("media_id"), col("track_id"))
    })
  )

  /** The fixture → decode → order-by-media_id shape most multimodal
    * queries share: one fixture row per document id, one decoder.
    */
  private def decoded[T <: Product : TypeTag](fixture: Long => MediaRow,
      decoder: Iterator[MediaRow] => Iterator[T]): (SparkSession, String) => DataFrame =
    (s, d) => Multimodal.decode(Multimodal.fixtures(scan(s, d, "documents"), "doc_id")(fixture))(
      decoder).orderBy(col("media_id"))

  /** Image near-dup candidate pairs over the banded phash fixtures —
    * shared by q_multimodal_neardup and q_multimodal_dedup.
    */
  private def phashPairs(s: SparkSession, d: String): DataFrame =
    Multimodal.nearDupPairs(
      Multimodal.decode(Multimodal.syntheticPpmPairs(scan(s, d, "documents"), "doc_id"))(
        Multimodal.decodePpmPhashBanded),
      "phash", Seq("width", "height", "band"))

  /** Fixture-formula byte value for the phash fixture at raster offset
    * `j` (SQL, over columns id/tw/w): row 0 encodes id bits as 0/255
    * stripes, the rest is (id·31 + j) mod 256, twins add 8 mod 256 on
    * j % 37 = 0 below row 0 — Multimodal.syntheticPpmPairs verbatim.
    */
  private def ppmByteSql(j: String): String = {
    val b = s"(CASE WHEN ($j) < 3 * w THEN ((id >> ((($j) // 3) % 20)) & 1) * 255" +
      s" ELSE (id * 31 + ($j)) % 256 END)"
    s"(CASE WHEN tw = 1 AND ($j) >= 3 * w AND ($j) % 37 = 0 THEN ($b + 8) % 256 ELSE $b END)"
  }

  /** Grayscale (r+g+b) of fixture pixel (`x`, `y`) — three byte pulls. */
  private def ppmGraySql(x: String, y: String): String =
    (0 to 2).map(o => ppmByteSql(s"3 * (($y) * w + ($x)) + $o")).mkString("(", " + ", ")")

  /** The phash replay CTEs (media m, per-bit bits, per-media ph) shared
    * by the q_multimodal_phash and q_multimodal_neardup oracles.
    */
  private val phashCtes: String =
    s"""m AS (SELECT doc_id AS id, tw,
       |        CAST(12 + doc_id % 9 AS BIGINT) AS w,
       |        CAST(8 + doc_id % 7 AS BIGINT) AS h
       |      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS tw) t
       |      WHERE tw = 0 OR doc_id % 4 = 0),
       |bits AS (SELECT id, tw, w, h, rr.x AS rr, c.x AS c,
       |    CASE WHEN ${ppmGraySql("((c.x + 1) * w) // 11", "(rr.x * h) // 6")}
       |            > ${ppmGraySql("(c.x * w) // 11", "(rr.x * h) // 6")}
       |         THEN 1 ELSE 0 END AS bit
       |  FROM m CROSS JOIN (SELECT unnest(range(0, 6)) AS x) rr
       |         CROSS JOIN (SELECT unnest(range(0, 10)) AS x) c),
       |ph AS (SELECT id, tw, w, h,
       |         CAST(SUM(CAST(bit AS BIGINT) << CAST(rr * 10 + c AS INT)) AS BIGINT) AS phash
       |       FROM bits GROUP BY id, tw, w, h)""".stripMargin

  /** The audio-fingerprint replay CTEs (media mw, per-sample v with the
    * twin perturbation, per-segment energies e, per-media afp hash) —
    * shared by the q_multimodal_afp and q_multimodal_afp_pairs oracles.
    */
  private val afpCtes: String =
    s"""mw AS (SELECT doc_id AS id, tw, CAST(600 + doc_id % 256 AS BIGINT) AS n
       |       FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS tw) t
       |       WHERE tw = 0 OR doc_id % 4 = 0),
       |sj AS (SELECT id, tw, n, unnest(range(0, n)) AS j FROM mw),
       |v AS (SELECT id, tw, n,
       |        CAST((j * 61) // n AS BIGINT) AS seg,
       |        CAST(CASE WHEN tw = 1 AND j % 101 = 0 AND j >= (11 * n) // 61
       |             THEN (id * 37 + j * 13) % 4001 - 2000 + 3
       |             ELSE (id * 37 + j * 13) % 4001 - 2000 END AS BIGINT) AS v
       |      FROM sj),
       |e AS (SELECT id, tw, n, seg, CAST(SUM(v * v) AS BIGINT) AS en
       |      FROM v GROUP BY id, tw, n, seg),
       |bits AS (SELECT a.id, a.tw, a.n, a.seg AS k,
       |           CASE WHEN b.en > a.en THEN 1 ELSE 0 END AS bit
       |         FROM e a JOIN e b ON b.id = a.id AND b.tw = a.tw AND b.seg = a.seg + 1
       |         WHERE a.seg < 60),
       |afp AS (SELECT id, tw, n,
       |          CAST(SUM(CAST(bit AS BIGINT) << CAST(k AS INT)) AS BIGINT) AS afp
       |        FROM bits GROUP BY id, tw, n),
       |eband AS (SELECT id, tw, list(en ORDER BY seg) AS bl
       |          FROM e WHERE seg <= 10 GROUP BY id, tw)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_multimodal_afp" ->
      s"""WITH $afpCtes
         |SELECT 2 * id + tw AS media_id, n AS n_samples, afp
         |FROM afp ORDER BY media_id""".stripMargin,

    "q_multimodal_afp_pairs" ->
      s"""WITH $afpCtes
         |SELECT 2 * a.id + a.tw AS media_a, 2 * b.id + b.tw AS media_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
         |FROM afp a JOIN afp b
         |  ON a.n = b.n AND 2 * a.id + a.tw < 2 * b.id + b.tw
         |  JOIN eband ea ON ea.id = a.id AND ea.tw = a.tw
         |  JOIN eband eb ON eb.id = b.id AND eb.tw = b.tw AND ea.bl = eb.bl
         |WHERE bit_count(xor(a.afp, b.afp)) <= 3
         |ORDER BY media_a, media_b""".stripMargin,

    "q_multimodal_phash" ->
      s"""WITH $phashCtes
         |SELECT 2 * id + tw AS media_id, CAST(w AS INT) AS width,
         |  CAST(h AS INT) AS height, phash
         |FROM ph ORDER BY media_id""".stripMargin,

    // the cluster membership (keep-one survivor = the cluster label, a
    // min-label component invariant) replayed as a recursive reach over
    // the formula pairs — q_corpus_clean's CC oracle pattern
    "q_multimodal_dedup" ->
      s"""WITH RECURSIVE $phashCtes,
         |pairsq AS (
         |  SELECT 2 * a.id + a.tw AS media_a, 2 * b.id + b.tw AS media_b
         |  FROM ph a JOIN ph b
         |    ON a.w = b.w AND a.h = b.h
         |    AND a.id % (1::BIGINT << CAST(a.w AS INT)) = b.id % (1::BIGINT << CAST(a.w AS INT))
         |    AND 2 * a.id + a.tw < 2 * b.id + b.tw
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |edges AS (SELECT media_a AS a, media_b AS b FROM pairsq
         |          UNION SELECT media_b, media_a FROM pairsq),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |clusters AS (SELECT src AS media_id, least(src, MIN(dst)) AS cluster
         |             FROM reach GROUP BY src)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
         |FROM clusters GROUP BY cluster ORDER BY cluster""".stripMargin,

    // blocked-candidate semantics mirrored definitionally: same (w, h),
    // same ROW-0 CONTENT (engine: FNV digest of the raw row-0 bytes;
    // oracle: the fixture's row 0 encodes id bits at stripe positions
    // 0..w-1, so byte equality == id mod 2^w equality — exact for
    // w in [12, 20]), Hamming <= 3 — the chunk pigeonhole the engine
    // joins on is exhaustive within that contract
    "q_multimodal_neardup" ->
      s"""WITH $phashCtes
         |SELECT 2 * a.id + a.tw AS media_a, 2 * b.id + b.tw AS media_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
         |FROM ph a JOIN ph b
         |  ON a.w = b.w AND a.h = b.h
         |  AND a.id % (1::BIGINT << CAST(a.w AS INT)) = b.id % (1::BIGINT << CAST(a.w AS INT))
         |  AND 2 * a.id + a.tw < 2 * b.id + b.tw
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY media_a, media_b""".stripMargin,

    "q_multimodal_features" -> {
      val embExprs = (0 until 8).map { i =>
        s"""  CAST((strpos('0123456789abcdef', substring(hex, ${2 * i + 1}, 1)) - 1) * 16
           |     + (strpos('0123456789abcdef', substring(hex, ${2 * i + 2}, 1)) - 1) AS DOUBLE) / 255.0
           |    AS e$i""".stripMargin
      }.mkString(",\n")
      s"""WITH h AS (SELECT doc_id, text, md5(text) AS hex FROM documents)
         |SELECT doc_id AS media_id, 'text/plain' AS mime,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  hex AS content_hash,
         |$embExprs
         |FROM h ORDER BY media_id""".stripMargin
    },
    "q_multimodal_resize" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |    array_to_string([substring(text, i, 1)
        |                     for i in range(1, length(text) + 1) if (i - 1) % 3 = 0], '') AS resized
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(length(text) AS INT) AS orig_bytes,
        |  CAST(length(resized) AS INT) AS resized_bytes,
        |  md5(resized) AS resized_md5
        |FROM r ORDER BY media_id""".stripMargin,
    "q_multimodal_chunkstore" ->
      """WITH f AS (SELECT text, CAST(ceil(length(text) / 64.0) AS INT) AS n FROM documents),
        |cx AS (SELECT text, unnest(range(0, n)) AS i FROM f),
        |c AS (SELECT md5(substring(text, CAST(i AS INT) * 64 + 1, 64)) AS h FROM cx),
        |g AS (SELECT h, count(*) AS c FROM c GROUP BY h)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |FROM g""".stripMargin,
    // the oracle NEVER parses bytes: width/height and per-channel sums
    // come straight from the fixture formula (w = 1 + id%8, h = 1 + id%5,
    // raster byte j = (id*31 + j) mod 256; channel = j mod 3)
    "q_multimodal_ppm" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INT) AS width,
        |    CAST(1 + doc_id % 5 AS INT) AS height
        |  FROM documents),
        |j AS (SELECT doc_id, width, height,
        |        unnest(range(0, width * height * 3)) AS j
        |      FROM px),
        |v AS (SELECT doc_id, width, height, j, (doc_id * 31 + j) % 256 AS v FROM j)
        |SELECT doc_id AS media_id, width, height, 255 AS maxval,
        |  CAST(width AS BIGINT) * height AS n_pixels,
        |  CAST(SUM(CASE WHEN j % 3 = 0 THEN v END) AS BIGINT) AS r_sum,
        |  CAST(SUM(CASE WHEN j % 3 = 1 THEN v END) AS BIGINT) AS g_sum,
        |  CAST(SUM(CASE WHEN j % 3 = 2 THEN v END) AS BIGINT) AS b_sum
        |FROM v GROUP BY doc_id, width, height
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses a byte: w = 1 + id%13, h = 1 + id%4,
    // black(x,y) ⟺ (id + 3x + 7y) mod 5 = 0, position p = y·w + x
    "q_multimodal_pbm" ->
      """WITH px AS (SELECT doc_id,
        |    CAST(1 + doc_id % 13 AS INT) AS width,
        |    CAST(1 + doc_id % 4 AS INT) AS height
        |  FROM documents),
        |p AS (SELECT doc_id, width, height,
        |        unnest(range(0, width * height)) AS p
        |      FROM px),
        |v AS (SELECT doc_id, width, height, p,
        |        CASE WHEN (doc_id + 3 * (p % width) + 7 * (p // width)) % 5 = 0
        |             THEN 1 ELSE 0 END AS blk
        |      FROM p)
        |SELECT doc_id AS media_id, width, height,
        |  CAST(SUM(blk) AS BIGINT) AS n_black,
        |  CAST(SUM(CASE WHEN p < width THEN blk ELSE 0 END) AS BIGINT)
        |    AS row0_black,
        |  CAST(SUM(p * blk) AS BIGINT) AS wsum
        |FROM v GROUP BY doc_id, width, height
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses a byte: ntrks = 1 + id%3, track t has
    // 3 + (id+t)%6 notes; ticks = Σ[(id·3+5t+7i)%300 + (13i+t)%200],
    // key = (id+2t+11i)%128, vel = 1 + (id+i)%127
    "q_multimodal_midi" ->
      """WITH px AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS ntrks
        |            FROM documents),
        |t AS (SELECT doc_id, ntrks, unnest(range(0, ntrks)) AS t FROM px),
        |n AS (SELECT doc_id, ntrks, t,
        |        CAST(3 + (doc_id + t) % 6 AS INT) AS nn FROM t),
        |i AS (SELECT doc_id, ntrks, t, nn, unnest(range(0, nn)) AS i FROM n),
        |e AS (SELECT doc_id, ntrks, t, i,
        |        (doc_id * 3 + t * 5 + i * 7) % 300
        |          + (i * 13 + t) % 200 AS dticks,
        |        (doc_id + 2 * t + 11 * i) % 128 AS key,
        |        1 + (doc_id + i) % 127 AS vel
        |      FROM i)
        |SELECT doc_id AS media_id, CAST(MAX(ntrks) AS BIGINT) AS n_tracks,
        |  CAST(COUNT(*) AS BIGINT) AS n_notes,
        |  CAST(SUM(dticks) AS BIGINT) AS total_ticks,
        |  CAST(SUM(key) AS BIGINT) AS key_sum,
        |  CAST(SUM(vel) AS BIGINT) AS vel_sum
        |FROM e GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses a line: fan topology gives F = n−2,
    // E = 2n−3, Euler = 1; coordinate sums come from the mod formulas
    "q_multimodal_obj" ->
      """WITH px AS (SELECT doc_id, CAST(4 + doc_id % 6 AS BIGINT) AS n
        |            FROM documents),
        |i AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM px),
        |v AS (SELECT doc_id, n,
        |        (doc_id * 7 + 3 * i) % 997 AS x,
        |        (doc_id * 11 + 5 * i) % 983 AS y,
        |        (doc_id * 13 + 7 * i) % 971 AS z
        |      FROM i)
        |SELECT doc_id AS media_id, MAX(n) AS n_vertices,
        |  MAX(n) - 2 AS n_faces, 2 * MAX(n) - 3 AS n_edges,
        |  CAST(1 AS BIGINT) AS euler,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(z) AS BIGINT) AS sz
        |FROM v GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses bytes: it replays the G.711 curve in
    // closed form — a = min(|s|,8159)+132, e = segment of a, m =
    // (a div 2^(e+3)) mod 16, dec = sign·(((m·8+132)·2^e) − 132)
    "q_multimodal_ulaw" ->
      """WITH px AS (SELECT doc_id, CAST(6 + doc_id % 12 AS INT) AS n FROM documents),
        |j AS (SELECT doc_id, n, unnest(range(0, n)) AS j FROM px),
        |s AS (SELECT doc_id, n, j,
        |        CAST((doc_id * 37 + j * 13) % 16001 - 8000 AS BIGINT) AS s FROM j),
        |seg AS (SELECT doc_id, n, j, s,
        |          LEAST(abs(s), 8159) + 132 AS a FROM s),
        |e AS (SELECT doc_id, n, j, s, a,
        |        CASE WHEN a >= 8192 THEN 64 WHEN a >= 4096 THEN 32
        |             WHEN a >= 2048 THEN 16 WHEN a >= 1024 THEN 8
        |             WHEN a >= 512 THEN 4 WHEN a >= 256 THEN 2
        |             ELSE 1 END AS p2
        |      FROM seg),
        |d AS (SELECT doc_id, n, j,
        |        CASE WHEN s < 0 THEN -1 ELSE 1 END
        |          * (((a // (8 * p2)) % 16) * 8 + 132) * p2
        |          - CASE WHEN s < 0 THEN -132 ELSE 132 END AS dec
        |      FROM e)
        |SELECT doc_id AS media_id, CAST(MAX(n) AS BIGINT) AS n_samples,
        |  CAST(SUM(dec) AS BIGINT) AS dec_sum,
        |  CAST(SUM(j * dec) AS BIGINT) AS wsum
        |FROM d GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses bytes: n = 1 + id%4 records, record r has
    // L = 5 + (id+r)%11 and payload byte j = (id*13 + r*7 + j) mod 256
    "q_multimodal_tfrecord" ->
      """WITH px AS (SELECT doc_id, CAST(1 + doc_id % 4 AS INT) AS n FROM documents),
        |r AS (SELECT doc_id, n, unnest(range(0, n)) AS r FROM px),
        |l AS (SELECT doc_id, n, r,
        |        CAST(5 + (doc_id + r) % 11 AS BIGINT) AS len FROM r),
        |j AS (SELECT doc_id, n, r, len, unnest(range(0, len)) AS j FROM l),
        |v AS (SELECT doc_id, n, r,
        |        (doc_id * 13 + r * 7 + j) % 256 AS v FROM j)
        |SELECT doc_id AS media_id, CAST(MAX(n) AS BIGINT) AS n_records,
        |  CAST(COUNT(*) AS BIGINT) AS total_len,
        |  CAST(SUM(v) AS BIGINT) AS payload_sum,
        |  CAST(SUM(r * v) AS BIGINT) AS wsum
        |FROM v GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses bytes: w = 1 + id%6, h = 1 + id%5,
    // q = p − [p%7=6], r = (id·17 + 7q²)%256, g = (id·23 + 3q)%256,
    // b = (id·31 + (5q² + q)%97)%256 — the encoder's op choices live
    // only in the binary
    "q_multimodal_qoi" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 6 AS INT) AS width,
        |    CAST(1 + doc_id % 5 AS INT) AS height
        |  FROM documents),
        |j AS (SELECT doc_id, width, height,
        |        unnest(range(0, width * height)) AS p
        |      FROM px),
        |e AS (SELECT doc_id, width, height, p,
        |        p - CASE WHEN p % 7 = 6 THEN 1 ELSE 0 END AS q FROM j),
        |v AS (SELECT doc_id, width, height, p,
        |        (doc_id * 17 + 7 * q * q) % 256 AS r,
        |        (doc_id * 23 + 3 * q) % 256 AS g,
        |        (doc_id * 31 + (5 * q * q + q) % 97) % 256 AS b
        |      FROM e)
        |SELECT doc_id AS media_id, width, height,
        |  CAST(SUM(r) AS BIGINT) AS r_sum,
        |  CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM(p * (r + g + b)) AS BIGINT) AS wsum
        |FROM v GROUP BY doc_id, width, height
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses bytes: w = 1 + id%7, h = 1 + id%4, and
    // the pixel at image position p carries bgr = (id*29 + 3p + {0,1,2})
    // mod 256; row0 is p < w. Padding and row order live only in the
    // binary — a decoder bug there cannot be mirrored here
    "q_multimodal_bmp" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 7 AS INT) AS width,
        |    CAST(1 + doc_id % 4 AS INT) AS height
        |  FROM documents),
        |j AS (SELECT doc_id, width, height,
        |        unnest(range(0, width * height)) AS p
        |      FROM px),
        |v AS (SELECT doc_id, width, height, p,
        |        (doc_id * 29 + 3 * p) % 256 AS bl,
        |        (doc_id * 29 + 3 * p + 1) % 256 AS gr,
        |        (doc_id * 29 + 3 * p + 2) % 256 AS rd
        |      FROM j)
        |SELECT doc_id AS media_id, width, height,
        |  CAST(SUM(rd) AS BIGINT) AS r_sum,
        |  CAST(SUM(gr) AS BIGINT) AS g_sum,
        |  CAST(SUM(bl) AS BIGINT) AS b_sum,
        |  CAST(SUM(CASE WHEN p < width THEN bl + gr + rd ELSE 0 END) AS BIGINT)
        |    AS row0_sum
        |FROM v GROUP BY doc_id, width, height
        |ORDER BY media_id""".stripMargin,

    // the oracle NEVER parses bytes: channels/rate/frames and exact
    // per-channel sums come straight from the fixture formula
    // (c = 1 + id%2, rate = 8000 + (id%4)*1000, nf = 4 + id%16,
    // sample j = ((id*37 + j*13) mod 4001) - 2000, channel = j mod c)
    "q_multimodal_mp3" -> {
      val kbps = graft.ops.Multimodal.sqlMp3Kbps("1 + (id + fi) % 13")
      raw"""WITH f AS (SELECT doc_id AS id, CAST(3 + doc_id % 6 AS BIGINT) AS nf,
           |             CAST(10 + doc_id % 50 AS BIGINT) AS tagbody
           |           FROM documents),
           |fr AS (SELECT id, nf, tagbody, unnest(range(0, nf)) AS fi FROM f),
           |p AS (SELECT id, nf, tagbody, fi, $kbps AS kbps,
           |        CASE (id + fi) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
           |             ELSE 32000 END AS sr,
           |        (id + fi) % 2 AS pad
           |      FROM fr),
           |q AS (SELECT *, 144 * kbps * 1000 // sr + pad AS flen,
           |        1152000000 // sr AS fdur FROM p)
           |SELECT id AS media_id, CAST(MAX(nf) AS BIGINT) AS n_frames,
           |  CAST(MAX(tagbody) + 10 AS BIGINT) AS id3_size,
           |  CAST(MAX(tagbody) + 10 + SUM(flen) AS BIGINT) AS byte_len,
           |  CAST(SUM(kbps) AS BIGINT) AS kbps_sum,
           |  CAST(SUM(fdur) AS BIGINT) AS dur_us
           |FROM q GROUP BY id ORDER BY media_id""".stripMargin
    },

    "q_multimodal_wav" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |    CAST(8000 + (doc_id % 4) * 1000 AS INT) AS sample_rate,
        |    CAST(4 + doc_id % 16 AS BIGINT) AS n_frames
        |  FROM documents),
        |j AS (SELECT doc_id, n_channels, sample_rate, n_frames,
        |        unnest(range(0, n_frames * n_channels)) AS j
        |      FROM f),
        |v AS (SELECT doc_id, n_channels, sample_rate, n_frames, j,
        |        (doc_id * 37 + j * 13) % 4001 - 2000 AS v
        |      FROM j)
        |SELECT doc_id AS media_id, n_channels, sample_rate,
        |  16 AS bits_per_sample, n_frames,
        |  CAST(SUM(CASE WHEN j % n_channels = 0 THEN v ELSE 0 END) AS BIGINT) AS ch0_sum,
        |  CAST(SUM(CASE WHEN j % n_channels <> 0 THEN v ELSE 0 END) AS BIGINT) AS ch1_sum
        |FROM v GROUP BY doc_id, n_channels, sample_rate, n_frames
        |ORDER BY media_id""".stripMargin,

    // formula replay: m samples, the last one's .cls missing; txt size
    // 10 + (id+13i)%300, cls size 1 + (id+i)%9 summed over i < m-1
    "q_multimodal_wds" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 5 AS BIGINT) AS m
        |           FROM documents),
        |f AS (SELECT id, m, unnest(range(0, m)) AS i FROM m)
        |SELECT id AS media_id, CAST(MAX(m) AS BIGINT) AS n_samples,
        |  CAST(MAX(m) - 1 AS BIGINT) AS n_complete,
        |  CAST(1 AS BIGINT) AS n_incomplete,
        |  CAST(SUM(10 + (id + 13 * i) % 300) AS BIGINT) AS txt_bytes,
        |  CAST(COALESCE(SUM(CASE WHEN i < m - 1 THEN 1 + (id + i) % 9
        |                         ELSE 0 END), 0) AS BIGINT) AS cls_bytes
        |FROM f GROUP BY id ORDER BY media_id""".stripMargin,

    // formula replay: member i has size 10 + (id+13i)%300 and byte j =
    // (id+i+j)%256; archive length = 512·(1 dir + Σ(1 + ⌈size/512⌉)) +
    // the 1024-byte trailer
    "q_multimodal_tar" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 5 AS INT) AS m
        |           FROM documents),
        |f AS (SELECT id, m, unnest(range(0, m)) AS i FROM m),
        |sz AS (SELECT id, m, i,
        |         CAST(10 + (id + 13 * i) % 300 AS BIGINT) AS size FROM f),
        |b AS (SELECT id, i, size, unnest(range(0, size)) AS j FROM sz),
        |csum AS (SELECT id, CAST(SUM((id + i + j) % 256) AS BIGINT) AS content_sum
        |         FROM b GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(m) AS INT) AS n_files,
        |          CAST(SUM(size) AS BIGINT) AS total_bytes,
        |          CAST(MAX(size) AS BIGINT) AS max_bytes,
        |          CAST(512 * (1 + SUM(1 + (size + 511) // 512)) + 1024 AS BIGINT)
        |            AS archive_bytes
        |        FROM sz GROUP BY id)
        |SELECT a.id AS media_id, a.n_files, CAST(1 AS INT) AS n_dirs,
        |  a.total_bytes, a.max_bytes, c.content_sum, a.archive_bytes
        |FROM agg a JOIN csum c ON a.id = c.id ORDER BY media_id""".stripMargin,

    // formula replay: m = 2 + id%4 samples; txt i sized
    // 20 + (id+11i)%200 for all i, cls i sized 1 + (id+3i)%9 for
    // i < m-1 (the last sample's .cls is the planted incompleteness)
    "q_multimodal_zipwds" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 4 AS INT) AS m
        |           FROM documents),
        |f AS (SELECT id, m, unnest(range(0, m)) AS i FROM m)
        |SELECT id AS media_id, CAST(MAX(m) AS BIGINT) AS n_samples,
        |  CAST(MAX(m) - 1 AS BIGINT) AS n_complete,
        |  CAST(1 AS BIGINT) AS n_incomplete,
        |  CAST(SUM(20 + (id + 11 * i) % 200) AS BIGINT) AS txt_bytes,
        |  CAST(COALESCE(SUM(CASE WHEN i < m - 1 THEN 1 + (id + 3 * i) % 9
        |                         ELSE 0 END), 0) AS BIGINT) AS cls_bytes
        |FROM f GROUP BY id ORDER BY media_id""".stripMargin,

    // formula replay: m = 2 + id%4 entries; entry i has size
    // 20 + (id+11i)%200, byte j = (id+7i+j)%256, even i stored / odd i
    // deflated; deflate byte counts are compressor-dependent and never
    // surface in the output
    "q_multimodal_zip" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 4 AS INT) AS m
        |           FROM documents),
        |f AS (SELECT id, m, unnest(range(0, m)) AS i FROM m),
        |sz AS (SELECT id, m, i,
        |         CAST(20 + (id + 11 * i) % 200 AS BIGINT) AS size FROM f),
        |b AS (SELECT id, i, size, unnest(range(0, size)) AS j FROM sz),
        |csum AS (SELECT id, CAST(SUM((id + 7 * i + j) % 256) AS BIGINT) AS content_sum
        |         FROM b GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(m) AS INT) AS n_entries,
        |          CAST(SUM(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS INT) AS n_stored,
        |          CAST(SUM(CASE WHEN i % 2 = 1 THEN 1 ELSE 0 END) AS INT) AS n_deflate,
        |          CAST(SUM(size) AS BIGINT) AS total_bytes,
        |          CAST(MAX(size) AS BIGINT) AS max_bytes
        |        FROM sz GROUP BY id)
        |SELECT a.id AS media_id, a.n_entries, a.n_stored, a.n_deflate,
        |  a.total_bytes, a.max_bytes, c.content_sum
        |FROM agg a JOIN csum c ON a.id = c.id ORDER BY media_id""".stripMargin,

    // formula replay: m = 1 + id%4 responses, each with a fixed 65-byte
    // HTTP head (all header fields fixed-width by fixture construction)
    // and body L = 100 + (id+17i)%300 bytes of (id+5i+j)%256; archive =
    // 1 warcinfo + m (request, response) pairs, one gzip member each,
    // so n_members = 1 + 2m; the last response is a 404, so n_ok = m-1
    "q_multimodal_warc" ->
      """WITH m AS (SELECT doc_id AS id, CAST(1 + doc_id % 4 AS INT) AS mm
        |           FROM documents),
        |f AS (SELECT id, mm, unnest(range(0, mm)) AS i FROM m),
        |sz AS (SELECT id, mm, i,
        |         CAST(100 + (id + 17 * i) % 300 AS BIGINT) AS L FROM f),
        |b AS (SELECT id, i, L, unnest(range(0, L)) AS j FROM sz),
        |ps AS (SELECT id, CAST(SUM((id + 5 * i + j) % 256) AS BIGINT) AS payload_sum
        |       FROM b GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(mm) AS INT) AS mm,
        |          CAST(SUM(65 + L) AS BIGINT) AS http_bytes,
        |          CAST(SUM(L) AS BIGINT) AS payload_bytes
        |        FROM sz GROUP BY id)
        |SELECT a.id AS media_id, CAST(1 + 2 * a.mm AS INT) AS n_members,
        |  a.mm AS n_responses, a.mm AS n_requests, CAST(1 AS INT) AS n_warcinfo,
        |  a.http_bytes, a.payload_bytes, p.payload_sum,
        |  CAST(a.mm - 1 AS INT) AS n_ok
        |FROM agg a JOIN ps p ON a.id = p.id ORDER BY media_id""".stripMargin,

    // formula replay: m = 1 + id%4 pairs, only the m-1 leading
    // responses are 200s; page j carries k = 10 + (id+7j)%30 words of
    // 12 chars -> 13k-1 parsed text chars, kept iff k >= 20
    "q_crawl_funnel" ->
      """WITH m AS (SELECT doc_id AS id, CAST(1 + doc_id % 4 AS INT) AS mm
        |           FROM documents),
        |f AS (SELECT id, mm, unnest(range(0, mm - 1)) AS j FROM m),
        |kk AS (SELECT id, j, CAST(10 + (id + 7 * j) % 30 AS BIGINT) AS k FROM f),
        |pc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_parsed,
        |         CAST(SUM(13 * k - 1) AS BIGINT) AS text_chars,
        |         CAST(SUM(CASE WHEN k >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |       FROM kk GROUP BY id)
        |SELECT m.id AS media_id, CAST(1 + 2 * m.mm AS INT) AS n_records,
        |  CAST(m.mm - 1 AS INT) AS n_ok,
        |  CAST(COALESCE(pc.n_parsed, 0) AS BIGINT) AS n_parsed,
        |  CAST(COALESCE(pc.text_chars, 0) AS BIGINT) AS text_chars,
        |  CAST(COALESCE(pc.n_kept, 0) AS BIGINT) AS n_kept
        |FROM m LEFT JOIN pc ON pc.id = m.id ORDER BY media_id""".stripMargin,

    // formula replay: page id links to (id + 31(j+1)) % 1000 for
    // j < 2 + id%5; src pages are distinct per (dst), so n_srcs = deg
    "q_multimodal_links" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 5 AS INT) AS mm
        |           FROM documents),
        |f AS (SELECT id, unnest(range(0, mm)) AS j FROM m),
        |e AS (SELECT id AS src, (id + 31 * (j + 1)) % 1000 AS dst FROM f),
        |d AS (SELECT dst, CAST(count(*) AS BIGINT) AS in_deg,
        |        CAST(count(DISTINCT src) AS BIGINT) AS n_srcs
        |      FROM e GROUP BY dst)
        |SELECT in_deg, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(min(dst) AS BIGINT) AS first_page,
        |  CAST(SUM(n_srcs) AS BIGINT) AS sum_srcs
        |FROM d GROUP BY in_deg ORDER BY in_deg""".stripMargin,

    // formula replay: 2 groups, 4 + id%3 rules, 1 + id%2 sitemaps,
    // star delay id%5 + 1; /p0/secret always blocked for graftbot,
    // /p2/secret iff id%3 = 2, the other two probes allowed
    "q_multimodal_robots" ->
      """SELECT doc_id AS media_id, CAST(2 AS INT) AS n_groups,
        |  CAST(4 + doc_id % 3 AS INT) AS n_rules,
        |  CAST(1 + doc_id % 2 AS INT) AS n_sitemaps,
        |  CAST(doc_id % 5 + 1 AS INT) AS delay_star,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 3 END AS INT) AS n_allowed,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS INT) AS n_blocked
        |FROM documents ORDER BY media_id""".stripMargin,

    // formula replay: m = 2 + id%4 paragraphs, paragraph i carries
    // k = 3 + (id+i)%5 12-char words (13k+3 text chars with the decoded
    // entity tail), plus the 9-char title; 7+m open/close tags, m br
    // self-closers, 28 raw-text bytes, depth 4
    "q_multimodal_html" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 4 AS INT) AS mm
        |           FROM documents),
        |f AS (SELECT id, mm, unnest(range(0, mm)) AS i FROM m),
        |kk AS (SELECT id, mm, i, CAST(3 + (id + i) % 5 AS BIGINT) AS k FROM f),
        |agg AS (SELECT id, CAST(MAX(mm) AS INT) AS mm,
        |          CAST(SUM(13 * k + 3) AS BIGINT) AS ptext
        |        FROM kk GROUP BY id)
        |SELECT id AS media_id, CAST(7 + mm AS INT) AS n_open,
        |  CAST(7 + mm AS INT) AS n_close, mm AS n_selfclose,
        |  CAST(1 AS INT) AS n_comments, CAST(1 AS INT) AS n_decl,
        |  CAST(28 AS BIGINT) AS script_bytes, mm AS n_entities,
        |  CAST(9 + ptext AS BIGINT) AS text_chars, CAST(4 AS INT) AS max_depth
        |FROM agg ORDER BY media_id""".stripMargin,

    // formula replay: m = 1 + id%3 pages, page i's content stream has
    // k = 2 + (id+i)%4 Tj ops (15 literal chars each) plus one TJ op
    // (12 chars in two strings); stream length = 53 + 21k; objects =
    // catalog + pages + m x (page, stream) = 2 + 2m in use + 1 free
    "q_multimodal_pdf" ->
      """WITH m AS (SELECT doc_id AS id, CAST(1 + doc_id % 3 AS INT) AS mm
        |           FROM documents),
        |f AS (SELECT id, mm, unnest(range(0, mm)) AS i FROM m),
        |kk AS (SELECT id, mm, i, CAST(2 + (id + i) % 4 AS BIGINT) AS k FROM f),
        |agg AS (SELECT id, CAST(MAX(mm) AS INT) AS mm,
        |          CAST(SUM(53 + 21 * k) AS BIGINT) AS stream_bytes,
        |          CAST(SUM(k) AS INT) AS n_tj,
        |          CAST(SUM(15 * k + 12) AS BIGINT) AS text_chars
        |        FROM kk GROUP BY id)
        |SELECT id AS media_id, CAST(2 + 2 * mm AS INT) AS n_objects,
        |  CAST(1 AS INT) AS n_free, mm AS n_pages, mm AS n_streams,
        |  stream_bytes, n_tj, mm AS n_tjarr, text_chars,
        |  CAST(3 + 2 * mm AS INT) AS trailer_size
        |FROM agg ORDER BY media_id""".stripMargin,

    // formula replay: T = 2 + id%4 tensors, tensor i has
    // params = (1+(id+i)%5)(1+(id+3i)%7) and esize 4 (F32, even i) /
    // 1 (I8, odd i); data byte j of tensor i = (id + 11i + j) % 256
    "q_multimodal_safetensors" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 4 AS INT) AS t
        |           FROM documents),
        |f AS (SELECT id, t, unnest(range(0, t)) AS i FROM m),
        |sz AS (SELECT id, t, i,
        |        CAST((1 + (id + i) % 5) * (1 + (id + 3*i) % 7) AS BIGINT) AS params,
        |        CAST(CASE WHEN i % 2 = 0 THEN 4 ELSE 1 END AS BIGINT) AS esize
        |       FROM f),
        |nb AS (SELECT id, t, i, params, params * esize AS nbytes FROM sz),
        |b AS (SELECT id, i, unnest(range(0, nbytes)) AS j FROM nb),
        |ds AS (SELECT id, CAST(SUM((id + 11*i + j) % 256) AS BIGINT) AS data_sum
        |       FROM b GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(t) AS INT) AS t,
        |         CAST(SUM(params) AS BIGINT) AS n_params,
        |         CAST(SUM(nbytes) AS BIGINT) AS data_bytes,
        |         CAST(MAX(nbytes) AS BIGINT) AS max_tensor_bytes
        |       FROM nb GROUP BY id)
        |SELECT a.id AS media_id, a.t AS n_tensors,
        |  CAST((a.t + 1) // 2 AS INT) AS n_f32, CAST(a.t // 2 AS INT) AS n_i8,
        |  a.n_params, a.data_bytes, a.max_tensor_bytes,
        |  'graft' AS meta_format, d.data_sum
        |FROM agg a JOIN ds d ON a.id = d.id ORDER BY media_id""".stripMargin,

    // formula replay: <i4 C-order (1+id%6, 1+id%9) matrix, element j
    // (row-major) = (id*7 + j) % 1000 - 500; constant 118-byte header
    "q_multimodal_npy" ->
      """WITH m AS (SELECT doc_id AS id, CAST(1 + doc_id % 6 AS BIGINT) AS r,
        |            CAST(1 + doc_id % 9 AS BIGINT) AS c FROM documents),
        |e AS (SELECT id, unnest(range(0, r * c)) AS j FROM m),
        |ds AS (SELECT id, CAST(SUM((id*7 + j) % 1000 - 500) AS BIGINT) AS data_sum
        |       FROM e GROUP BY id)
        |SELECT m.id AS media_id, CAST(1 AS INT) AS major, CAST(0 AS INT) AS minor,
        |  CAST(2 AS INT) AS n_dims, m.r AS d0, m.c AS d1,
        |  CAST(m.r * m.c AS BIGINT) AS n_elems, CAST(4 AS INT) AS elem_bytes,
        |  CAST(0 AS INT) AS fortran, CAST(118 AS INT) AS header_bytes,
        |  ds.data_sum
        |FROM m JOIN ds ON m.id = ds.id ORDER BY media_id""".stripMargin,

    // formula replay: T = 1 + id%4 tensors (params as safetensors,
    // esize 4/2), K = 2 + id%3 KVs (layer_count 1+id%7; ctx 128+id%512
    // iff K>=3; i32 array sum iff K=4), align32(nb) = ((nb+31)//32)*32,
    // inter-tensor pad only, data byte j of tensor i = (id+13i+j)%256
    "q_multimodal_gguf" ->
      """WITH m AS (SELECT doc_id AS id, CAST(1 + doc_id % 4 AS INT) AS t,
        |            CAST(2 + doc_id % 3 AS INT) AS kvs FROM documents),
        |f AS (SELECT id, t, unnest(range(0, t)) AS i FROM m),
        |sz AS (SELECT id, t, i,
        |        CAST((1 + (id + i) % 5) * (1 + (id + 3*i) % 7) AS BIGINT) AS params,
        |        CAST(CASE WHEN i % 2 = 0 THEN 4 ELSE 2 END AS BIGINT) AS esize
        |       FROM f),
        |nb AS (SELECT id, t, i, params, params * esize AS nbytes FROM sz),
        |db AS (SELECT id, i, unnest(range(0, nbytes)) AS j FROM nb),
        |ds AS (SELECT id, CAST(SUM((id + 13*i + j) % 256) AS BIGINT) AS data_sum
        |       FROM db GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(t) AS INT) AS t,
        |         CAST(SUM(params) AS BIGINT) AS n_params,
        |         CAST(SUM(nbytes) AS BIGINT) AS data_bytes,
        |         CAST(SUM(CASE WHEN i < t - 1
        |            THEN ((nbytes + 31) // 32) * 32 - nbytes ELSE 0 END) AS BIGINT)
        |           AS pad_bytes
        |       FROM nb GROUP BY id),
        |ar AS (SELECT id, CAST(SUM((id + j) % 100) AS BIGINT) AS arr_sum
        |       FROM (SELECT id, unnest(range(0, 2 + id % 3)) AS j
        |             FROM m WHERE kvs = 4) GROUP BY id)
        |SELECT m.id AS media_id, CAST(3 AS INT) AS version, m.kvs AS n_kv,
        |  a.t AS n_tensors,
        |  CAST((a.t + 1) // 2 AS INT) AS n_f32, CAST(a.t // 2 AS INT) AS n_f16,
        |  CAST(1 + m.id % 7 AS BIGINT) AS layer_count,
        |  CAST(CASE WHEN m.kvs >= 3 THEN 128 + m.id % 512 ELSE 0 END AS BIGINT)
        |    AS ctx_len,
        |  CAST(COALESCE(ar.arr_sum, 0) AS BIGINT) AS arr_sum,
        |  a.n_params, a.data_bytes, a.pad_bytes, d.data_sum
        |FROM m JOIN agg a ON m.id = a.id JOIN ds d ON m.id = d.id
        |LEFT JOIN ar ON m.id = ar.id ORDER BY media_id""".stripMargin,

    // formula replay: n = 2 + id%3 members, member k is a
    // (1+(id+k)%6, 1+(id+k)%9) matrix with element j =
    // (id*7 + 11k + j) % 1000 - 500
    "q_multimodal_npz" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 3 AS INT) AS n
        |           FROM documents),
        |f AS (SELECT id, n, unnest(range(0, n)) AS k FROM m),
        |dims AS (SELECT id, n, k, CAST(1 + (id + k) % 6 AS BIGINT) AS r,
        |           CAST(1 + (id + k) % 9 AS BIGINT) AS c FROM f),
        |el AS (SELECT id, k, unnest(range(0, r * c)) AS j FROM dims),
        |ds AS (SELECT id,
        |         CAST(SUM((id*7 + 11*k + j) % 1000 - 500) AS BIGINT) AS data_sum
        |       FROM el GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(n) AS INT) AS n_arrays,
        |          CAST(SUM(r * c) AS BIGINT) AS n_elems,
        |          CAST(MAX(r) AS BIGINT) AS max_rows,
        |          CAST(MAX(c) AS BIGINT) AS max_cols
        |        FROM dims GROUP BY id)
        |SELECT a.id AS media_id, a.n_arrays, a.n_elems, a.max_rows,
        |  a.max_cols, d.data_sum
        |FROM agg a JOIN ds d ON a.id = d.id ORDER BY media_id""".stripMargin,

    // formula replay: big-endian iff id odd, 8-entry IFD, w = 2+id%6,
    // h = 1+id%5, one strip of w*h bytes, pixel j = (id*17 + j) % 256
    "q_multimodal_tiff" ->
      """WITH m AS (SELECT doc_id AS id,
        |            CAST(2 + doc_id % 6 AS BIGINT) AS w,
        |            CAST(1 + doc_id % 5 AS BIGINT) AS h FROM documents),
        |px AS (SELECT id, unnest(range(0, w * h)) AS j FROM m),
        |ps AS (SELECT id, CAST(SUM((id * 17 + j) % 256) AS BIGINT) AS pixel_sum
        |       FROM px GROUP BY id)
        |SELECT m.id AS media_id, CAST(m.id % 2 AS INT) AS big_endian,
        |  CAST(8 AS INT) AS n_entries, m.w AS width, m.h AS height,
        |  CAST(8 AS INT) AS bits, CAST(1 AS INT) AS n_strips,
        |  CAST(m.w * m.h AS BIGINT) AS strip_bytes, ps.pixel_sum
        |FROM m JOIN ps ON m.id = ps.id ORDER BY media_id""".stripMargin,

    // formula replay: n = 1 + id%3 records; record k carries 3 map
    // entries — int64 values (id+k)%10 and 300+(id+k)%200, one bytes
    // value of L = 5+(id+k)%20 bytes 97+(id+k+j)%26, and
    // m = 2+(id+k)%3 half-integer floats (id+k)%7 + j/2 (summed as 2v)
    "q_multimodal_tfexample" ->
      """WITH m AS (SELECT doc_id AS id, CAST(1 + doc_id % 3 AS INT) AS n
        |           FROM documents),
        |rec AS (SELECT id, n, unnest(range(0, n)) AS k FROM m),
        |r2 AS (SELECT id, n, k,
        |        CAST(5 + (id + k) % 20 AS BIGINT) AS l,
        |        CAST(2 + (id + k) % 3 AS BIGINT) AS mf,
        |        CAST((id + k) % 10 + 300 + (id + k) % 200 AS BIGINT) AS isum,
        |        CAST((id + k) % 7 AS BIGINT) AS base FROM rec),
        |bs AS (SELECT id, CAST(SUM(97 + (id + k + j) % 26) AS BIGINT) AS byte_sum
        |       FROM (SELECT id, k, unnest(range(0, l)) AS j FROM r2) GROUP BY id),
        |fs AS (SELECT id, CAST(SUM(2 * base + j) AS BIGINT) AS float_2sum,
        |         CAST(COUNT(*) AS BIGINT) AS n_float_vals
        |       FROM (SELECT id, base, unnest(range(0, mf)) AS j FROM r2)
        |       GROUP BY id),
        |agg AS (SELECT id, CAST(MAX(n) AS INT) AS n_records,
        |         CAST(3 * COUNT(*) AS BIGINT) AS n_entries,
        |         CAST(COUNT(*) AS BIGINT) AS n_bytes_vals,
        |         CAST(2 * COUNT(*) AS BIGINT) AS n_int_vals,
        |         CAST(SUM(l) AS BIGINT) AS bytes_len_sum,
        |         CAST(SUM(isum) AS BIGINT) AS int_sum
        |       FROM r2 GROUP BY id)
        |SELECT a.id AS media_id, a.n_records, a.n_entries, a.n_bytes_vals,
        |  a.n_int_vals, f.n_float_vals, a.bytes_len_sum, b.byte_sum,
        |  a.int_sum, f.float_2sum
        |FROM agg a JOIN bs b ON a.id = b.id JOIN fs f ON a.id = f.id
        |ORDER BY media_id""".stripMargin,

    // formula replay: cue i starts 3000i + id%700 and lasts
    // 800 + (id+37i)%1500; gaps are 3000 − dur, so max_gap =
    // 3000 − min(dur over all but the last cue); text length =
    // 11 + digits(id) + digits((id+i)%20)
    "q_multimodal_srt" ->
      """WITH m AS (SELECT doc_id AS id, CAST(2 + doc_id % 6 AS INT) AS n
        |           FROM documents),
        |c AS (SELECT id, n, unnest(range(0, n)) AS i FROM m),
        |d AS (SELECT id, n, i,
        |        CAST(3000 * i + id % 700 AS BIGINT) AS st,
        |        CAST(800 + (id + 37 * i) % 1500 AS BIGINT) AS dur
        |      FROM c)
        |SELECT id AS media_id, CAST(MAX(n) AS INT) AS n_cues,
        |  CAST(SUM(dur) AS BIGINT) AS total_dur_ms,
        |  CAST(SUM(11 + length(CAST(id AS VARCHAR))
        |         + length(CAST((id + i) % 20 AS VARCHAR))) AS BIGINT) AS total_chars,
        |  CAST(3000 - MIN(CASE WHEN i <= n - 2 THEN dur END) AS BIGINT) AS max_gap_ms,
        |  CAST(MIN(st) AS BIGINT) AS first_start_ms,
        |  CAST(MAX(st + dur) AS BIGINT) AS last_end_ms
        |FROM d GROUP BY id ORDER BY media_id""".stripMargin,

    // formula replay: pixel k = (id*31 + k) % 256 over the w*h raster;
    // filter census = rows y in [0,h) with y%5 = f, i.e. (h - f + 4)//5
    "q_multimodal_png" ->
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(8 + doc_id % 9 AS BIGINT) AS w,
        |    CAST(6 + doc_id % 7 AS BIGINT) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, unnest(range(0, w * h)) AS k FROM m),
        |v AS (SELECT id, w, h, (id * 31 + k) % 256 AS b FROM px),
        |r AS (SELECT id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |        MAX(h) AS hh,
        |        CAST(SUM(b) AS BIGINT) AS raster_sum,
        |        CAST(COALESCE(SUM(CASE WHEN b > 127 THEN 1 ELSE 0 END), 0)
        |          AS BIGINT) AS n_bright
        |      FROM v GROUP BY id)
        |SELECT id AS media_id, width, height,
        |  CAST(8 AS INT) AS bit_depth, CAST(0 AS INT) AS color_type,
        |  raster_sum, n_bright,
        |  CAST((hh + 4) // 5 AS INT) AS n_none,
        |  CAST((hh + 3) // 5 AS INT) AS n_sub,
        |  CAST((hh + 2) // 5 AS INT) AS n_up,
        |  CAST((hh + 1) // 5 AS INT) AS n_avg,
        |  CAST(hh // 5 AS INT) AS n_paeth
        |FROM r ORDER BY media_id""".stripMargin,

    "q_multimodal_jpeg" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 240 AS INT) AS height,
        |  CAST(32 + doc_id % 200 AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS n_components,
        |  doc_id % 3 = 0 AS is_progressive,
        |  CAST(2 + doc_id % 2 AS INT) AS n_skipped
        |FROM documents ORDER BY media_id""".stripMargin,

    // formula replay: frames = 1 + id%5, delay per frame 2 + (id+f)%10
    // summed over the frame range; extensions = frames GCEs + one
    // COMMENT when id%3 = 0
    "q_multimodal_gif" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(10 + doc_id % 50 AS INT) AS width,
        |    CAST(5 + doc_id % 30 AS INT) AS height,
        |    CAST(1 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(SUM(2 + (doc_id + fr) % 10) AS BIGINT) AS total_delay_cs
        |      FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 5)) AS fr FROM documents)
        |      GROUP BY doc_id)
        |SELECT f.doc_id AS media_id, f.width, f.height, f.n_frames,
        |  d.total_delay_cs,
        |  CAST(f.n_frames + CASE WHEN f.doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_extensions
        |FROM f JOIN d ON d.doc_id = f.doc_id
        |ORDER BY media_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text, CAST(ceil(length(text) / 16.0) AS INT) AS n_frames
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, text, unnest([i for i in range(0, n_frames) if i % 4 = 0]) AS frame_idx
        |  FROM f)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(substring(text, CAST(frame_idx AS INT) * 16 + 1, 16)) AS INT) AS frame_len,
        |  md5(substring(text, CAST(frame_idx AS INT) * 16 + 1, 16)) AS frame_md5
        |FROM idx ORDER BY media_id, frame_idx""".stripMargin,

    // formula replay of the ISO-BMFF fixture: brand by id parity, movie
    // header 600·(1+id%3) / 500+id%100000, track t of 1+id%3 alternates
    // vide+avc1 / soun+mp4a, durations and timescales by the planted
    // formulas, language chr(97+(id+t)%26)+"nd", top boxes 3+[id%5=0]
    "q_multimodal_mp4" ->
      """WITH tr AS (SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS t
        |            FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(600 * (1 + doc_id % 3) AS BIGINT) AS mv_timescale,
        |  CAST(500 + doc_id % 100000 AS BIGINT) AS mv_duration,
        |  CAST(3 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_top_boxes,
        |  CAST(t + 1 AS BIGINT) AS track_id,
        |  CASE WHEN t % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
        |  CASE WHEN t % 2 = 0 THEN 'avc1' ELSE 'mp4a' END AS codec,
        |  CAST(200 + (3 * doc_id + 7 * t) % 40000 AS BIGINT) AS tk_duration,
        |  CAST(1000 * (1 + (doc_id + t) % 4) AS BIGINT) AS md_timescale,
        |  CAST(100 + (7 * doc_id + 11 * t) % 500000 AS BIGINT) AS md_duration,
        |  chr(97 + CAST((doc_id + t) % 26 AS INT)) || 'nd' AS lang,
        |  CAST((100 + (7 * doc_id + 11 * t) % 500000) * 1000
        |    // (1000 * (1 + (doc_id + t) % 4)) AS BIGINT) AS dur_ms
        |FROM tr ORDER BY media_id, track_id""".stripMargin
  )
}
