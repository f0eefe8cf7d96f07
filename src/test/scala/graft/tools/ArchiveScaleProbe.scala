package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Archives, ImageHash, TextAnalysis}

/**
 * Scale probe for the corpus-archive walkers + WET extraction (not
 * part of the driver contract): N shard blobs (default 50k) cycling
 * real WARC / .warc.gz / WebDataset-tar / ZIP fixtures, timing every
 * index face and the text-extraction path. The claim under test: each
 * walk is a partition-local byte pass whose throughput is flat in
 * shard count (blobs never shuffle; only index/text rows leave), so
 * the numbers here project linearly onto a 100 TB corpus split over
 * executors.
 *
 * Usage: Test/runMain graft.tools.ArchiveScaleProbe [shards] (default 50k)
 */
object ArchiveScaleProbe {
  def main(args: Array[String]): Unit = {
    val nShards = args.headOption.map(_.toLong).getOrElse(50000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-24s $dt%8.2f s  ($n%,d rows, ${nShards / dt}%,.0f shards/s)")
    }
    def corpus(templates: Seq[Array[Byte]], mime: String) = {
      val tb = spark.sparkContext.broadcast(templates)
      val df = spark.range(nShards)
        .map(id => (id, mime, tb.value((id % tb.value.size).toInt)))
        .toDF("media_id", "mime_type", "media").cache()
      df.count()
      df
    }

    // WARC: record index, HTTP split, WET extraction, full curation.
    // Row 6 carries the 200-status html variant page (anchors), so
    // the link-graph probe walks real edges
    val warcs = corpus(Seq(WarcFixture.row(0L)._2, WarcFixture.row(1L)._2,
      WarcFixture.row(2L)._2, WarcFixture.row(6L)._2), "application/warc")
    timed("warc_records")(Archives.warcRecordTable(spark, warcs).count())
    timed("warc_http_split")(Archives.warcHttpTable(spark, warcs).count())
    timed("warc_wet_text") {
      // filter through the visible-text kernel so column pruning can't
      // drop the extraction work from a bare count
      Archives.warcBodyTextTable(spark, warcs)
        .filter(TextAnalysis.htmlVisibleText(col("body_text")) =!= "").count()
    }
    timed("warc_wet_curation") {
      Archives.warcBodyTextTable(spark, warcs)
        .select(TextAnalysis.htmlVisibleText(col("body_text")).as("text"))
        .filter(col("text") =!= "")
        .filter(TextAnalysis.predictedLangCol(col("text")).isNotNull).count()
    }
    timed("warc_host_stats")(
      Archives.urlHostStats(Archives.warcRecordTable(spark, warcs)).count())
    // ONE-PASS page walk (identity + HTTP + WET text in a single scan)
    // and the link-graph chain it feeds
    timed("warc_page_table")(Archives.warcPageTable(spark, warcs).count())
    timed("link_graph")(Archives.hostLinkGraph(Archives.linkTable(
      Archives.warcPageTable(spark, warcs)
        .filter(col("body_text").isNotNull &&
          lower(col("content_type")).startsWith("text/html")))).count())
    timed("sitemap_urls")(
      Archives.withPageTable(spark, warcs,
        project = Seq("target_uri", "body_text", "body_gz_text"))(
        Archives.sitemapUrls).count())
    timed("crawl_candidates")(
      Archives.withPageTable(spark, warcs,
        project = Seq("target_uri", "warc_type", "content_type",
          "body_text", "body_gz_text"))(Archives.crawlCandidates).count())
    warcs.unpersist()

    // .warc.gz: per-member inflate — the expensive walk (DEFLATE per
    // member) and the compressed-corpus WET face
    val gzs = corpus(Seq(WarcGzFixture.row(0L)._2, WarcGzFixture.row(1L)._2,
      WarcGzFixture.row(2L)._2, WarcGzFixture.row(4L)._2), "application/warc")
    timed("warcgz_members")(Archives.warcGzMemberTable(spark, gzs).count())
    timed("warcgz_wet_text")(Archives.warcGzBodyTextTable(spark, gzs).count())
    timed("revisit_resolve")(Archives.revisitResolve(
      Archives.warcGzMemberTable(spark, gzs)).count())
    gzs.unpersist()

    // WebDataset tar (long-key shards included) + sample grouping
    val tars = corpus(Seq(TarFixture.row(0L)._2, TarFixture.row(1L)._2,
      TarFixture.row(5L)._2, TarFixture.row(4L)._2), "application/x-tar")
    timed("tar_members")(Archives.tarMemberTable(spark, tars).count())
    timed("webdataset_samples")(Archives.webdatasetSamples(
      Archives.tarMemberTable(spark, tars)).count())
    tars.unpersist()

    // ZIP central directories, classic + ZIP64
    val zips = corpus(Seq(ZipFixture.row(0L)._2, ZipFixture.row(1L)._2,
      ZipFixture.row(5L)._2, ZipFixture.row(4L)._2), "application/zip")
    timed("zip_entries")(Archives.zipEntryTable(spark, zips).count())
    zips.unpersist()

    // URL curation over the scaled record table: window/join stages
    // whose inputs are index rows — the part that shuffles at scale
    val warcs2 = corpus(Seq(WarcFixture.row(0L)._2, WarcFixture.row(1L)._2,
      WarcFixture.row(2L)._2, WarcFixture.row(4L)._2), "application/warc")
    val recs = Archives.warcRecordTable(spark, warcs2).cache()
    timed("url_dedup")(Archives.urlDedup(recs).count())
    timed("url_filter")(Archives.urlFilter(Archives.urlDedup(recs),
      Archives.defaultBlockedHosts.toDF("blocked_host")).count())
    timed("url_canonical") {
      // filter through surt_key so pruning can't drop the rewrite
      Archives.urlCanonical(recs.filter(col("target_uri").isNotNull))
        .filter(col("surt_key").isNotNull).count()
    }
    timed("host_cap")(Archives.hostCap(Archives.urlDedup(recs), 100).count())
    timed("crawl_delta") {
      def snap(p: org.apache.spark.sql.Column) = Archives.pageDigests(
        recs.filter(p),
        Archives.warcBodyTextTable(spark, warcs2.filter(p)))
      Archives.crawlDelta(
        snap(col("media_id") < nShards * 3 / 5),
        snap(col("media_id") >= nShards * 2 / 5)).count()
    }
    recs.unpersist(); warcs2.unpersist()

    // PDF: xref chain (classic AND 1.5+ xref-stream/ObjStm shards),
    // resolved objects, page-text extraction
    val pdfs = corpus(Seq(PdfFixture.row(0L)._2, PdfFixture.row(1L)._2,
      PdfFixture.row(6L)._2, PdfFixture.row(4L)._2), "application/pdf")
    timed("pdf_xref")(Archives.pdfXrefTable(spark, pdfs).count())
    timed("pdf_objects")(Archives.pdfObjectTable(spark, pdfs).count())
    timed("pdf_page_text")(Archives.pdfPageTextTable(spark, pdfs).count())
    pdfs.unpersist()

    // image dHash: a REAL ImageIO decode per blob, then the banded
    // near-dup self-join over 4-int signatures. Images are generated
    // DISTINCT per id on the executors (template cycling would give
    // thousands of identical hashes and quadratic buckets — a
    // pathology, not a corpus; the avalanche keeps real buckets tiny)
    val imgs = spark.range(nShards)
      .map { id =>
        val (mime, bytes) = ImageDupFixture.row(id)
        (id, mime, bytes)
      }
      .toDF("media_id", "mime_type", "media").cache()
    imgs.count()
    timed("image_dhash")(ImageHash.dhashTable(spark, imgs).count())
    timed("image_neardup")(ImageHash.nearDupPairs(
      ImageHash.dhashTable(spark, imgs)).count())
    timed("decode_coverage")(ImageHash.decodeCoverage(spark, imgs).count())
    imgs.unpersist()

    // VP8L decode throughput: every blob a WebP-lossless stream (the
    // entropy-decode path, distinct images per id as above)
    val webps = spark.range(nShards)
      .map(id => (id, "image/webp", ImageDupFixture.webp(id)))
      .toDF("media_id", "mime_type", "media").cache()
    webps.count()
    timed("vp8l_dhash")(ImageHash.dhashTable(spark, webps).count())
    webps.unpersist()

    // VP8L REAL-path decode: subtract-green + predictor transform +
    // color cache + LZ77 backreferences — the `cwebp -lossless`
    // stream shape the r17 decoder extension claims
    val realWebps = spark.range(nShards)
      .map { id =>
        val px = Array.tabulate(ImageDupFixture.W * ImageDupFixture.H) { i =>
          val v = ImageDupFixture.cell(id,
            (i % ImageDupFixture.W) / 2, (i / ImageDupFixture.W) / 2)
          (255 << 24) | (v << 16) | (v << 8) | v
        }
        (id, "image/webp", Vp8lEncoder.encode(
          px, ImageDupFixture.W, ImageDupFixture.H,
          Vp8lEncoder.Plan(
            transforms = Seq(Vp8lEncoder.SubGreenTf,
              Vp8lEncoder.PredictorTf(2, (_, _) => 2)),
            cacheBits = 3, useLz77 = true)))
      }
      .toDF("media_id", "mime_type", "media").cache()
    realWebps.count()
    timed("vp8l_real_dhash")(ImageHash.dhashTable(spark, realWebps).count())
    realWebps.unpersist()

    // Zstd transports: jsonl shards (streaming line decode), .warc.zst
    // (structural frame walk + per-frame inflate, dict classes
    // included), .tar.zst (streaming header walk, payloads skipped)
    val jsonls = corpus(Seq(ZstFixture.jsonlShard(0L)._2,
      ZstFixture.jsonlShard(3L)._2, ZstFixture.jsonlShard(6L)._2,
      ZstFixture.jsonlShard(9L)._2), "application/zstd")
    timed("jsonlzst_docs")(
      graft.ops.ZstdTransport.jsonlDocTable(spark, jsonls).count())
    jsonls.unpersist()
    val warcZsts = corpus(Seq(ZstFixture.warcZstShard(1L)._2,
      ZstFixture.warcZstShard(4L)._2, ZstFixture.warcZstShard(7L)._2,
      ZstFixture.warcZstShard(13L)._2), "application/zstd")
    timed("warczst_records")(
      graft.ops.ZstdTransport.warcZstRecordTable(spark, warcZsts).count())
    warcZsts.unpersist()
    val tarZsts = corpus(Seq(ZstFixture.tarZstShard(2L)._2,
      ZstFixture.tarZstShard(5L)._2), "application/zstd")
    timed("tarzst_members")(
      graft.ops.ZstdTransport.tarZstMemberTable(spark, tarZsts).count())
    tarZsts.unpersist()

    // FLAC: full real decode (every subframe family in the template
    // cycle) — the audio twin of the image-decode rows
    val flacs = corpus(Seq(FlacPcmFixture.row(1L)._2, FlacPcmFixture.row(2L)._2,
      FlacPcmFixture.row(3L)._2, FlacPcmFixture.row(4L)._2), "audio/flac")
    timed("flac_pcm_decode")(graft.ops.Flac.pcmTable(spark, flacs).count())
    flacs.unpersist()

    // audio fingerprints: decode + 8 FFTs per blob + banded pair join
    val auds = corpus(Seq(AudioDupFixture.row(0L)._2, AudioDupFixture.row(1L)._2,
      AudioDupFixture.row(2L)._2, AudioDupFixture.row(3L)._2), "audio/wav")
    timed("audio_fingerprint")(
      graft.ops.AudioFp.fingerprintTable(spark, auds).count())
    auds.unpersist()

    // video re-mux signatures: sample-table walk + per-frame JPEG
    // decode + dHash per blob
    val vids = corpus(Seq(VideoDupFixture.row(0L)._2, VideoDupFixture.row(1L)._2,
      VideoDupFixture.row(2L)._2, VideoDupFixture.row(3L)._2), "video/mp4")
    timed("video_remux_sig")(
      graft.ops.VideoDup.signatureTable(spark, vids).count())
    vids.unpersist()

    // animated-GIF frame table: structural block walk, no LZW decode
    val gifs = corpus(Seq(GifAnimFixture.row(0L)._2, GifAnimFixture.row(1L)._2,
      GifAnimFixture.row(2L)._2, GifAnimFixture.row(4L)._2), "image/gif")
    timed("gif_anim_table")(
      graft.ops.Multimodal.gifAnimTable(spark, gifs).count())
    // round 18: full LZW pixel decode + compositing + per-frame dHash
    timed("gif_frame_hash")(
      graft.ops.Multimodal.gifFrameHashTable(spark, gifs).count())
    gifs.unpersist()

    // round 18: full MPEG-1 Layer III decode + spectral fingerprint
    val mp3s = corpus(Seq(Mp3DupFixture.row(1L)._2, Mp3DupFixture.row(3L)._2,
      Mp3DupFixture.row(5L)._2, Mp3DupFixture.row(9L)._2), "audio/mpeg")
    timed("mp3_fingerprint")(
      graft.ops.AudioFp.fingerprintTable(spark, mp3s).count())
    mp3s.unpersist()

    // round 19: full Ogg demux + Vorbis decode + spectral fingerprint
    val oggs = corpus(Seq(VorbisDupFixture.row(1L)._2, VorbisDupFixture.row(3L)._2,
      VorbisDupFixture.row(5L)._2, VorbisDupFixture.row(9L)._2), "audio/ogg")
    timed("vorbis_fingerprint")(
      graft.ops.AudioFp.fingerprintTable(spark, oggs).count())
    oggs.unpersist()

    // round 18: zero-decode payload-digest path over AVC containers
    val avcs = corpus(Seq(VideoDupFixture.row(12L)._2, VideoDupFixture.row(13L)._2,
      AvcMp4Fixture.fragMp4(6L)), "video/mp4")
    timed("video_payload_sig")(
      graft.ops.VideoDup.signatureTable(spark, avcs).count())
    avcs.unpersist()

    // round 19: candidate-volume probe for the codec-grade banded
    // join at the widened 8×16-bit keys — 200k synthetic signatures
    // (hash-random bits, plus a planted 1% HOT CLUSTER sharing band
    // 0's key: the adversarial shape for any banding scheme) through
    // the REAL nearDupPairsCodec plan. Expected random candidate
    // volume per band is n²/2/65536 ≈ 305k pairs (×8 bands) plus the
    // hot bucket's C(2000,2) ≈ 2M — tractable seconds; the r18
    // 8-bit keys would have faced n²/2/256 ≈ 78M per band (×8 =
    // 625M), which is exactly the quadratic wall this probe pins the
    // fix for.
    {
      val sb = graft.ops.AudioFp.SigBands
      val sigs = spark.range(200000L).select(
        (Seq(col("id").as("media_id")) ++ (0 until sb).map { k =>
          val rnd = pmod(hash(col("id"), lit(k)), lit(65536)).cast("int")
          (if (k == 0) when(col("id") % 100 === 0, lit(12345)).otherwise(rnd)
           else rnd).as(s"b$k")
        }): _*).cache()
      sigs.count()
      val t0 = System.nanoTime()
      val pairs = graft.ops.AudioFp.nearDupPairsCodec(sigs).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] codec_band_join     $dt%8.2f s  (200,000 sigs incl. 1%% hot band-key, $pairs%,d pairs out)")
      sigs.unpersist()
    }

    spark.stop()
  }
}
