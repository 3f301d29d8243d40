package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaFeatures, MediaRecord}
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("binary pipeline: encode → batched stub decode → features") {
    val media = Seq(
      MediaRecord(1L, "image", Array[Byte](1, 2, 3, 4), "synthetic://a"),
      MediaRecord(2L, "audio", Array.fill[Byte](700)(7), "synthetic://b"),
      MediaRecord(3L, "image", Array.emptyByteArray, "synthetic://c"))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.id -> f).toMap
    assert(feats(1L).nBytes === 4)
    assert(feats(2L).width === 700 % 640 + 1) // wraps at the stub's 640 cap
    assert(feats(3L).nBytes === 0 && feats(3L).checksum === 0)
    // determinism: same bytes → same features
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.id -> f).toMap
    assert(again === feats)
  }

  test("stub checksum equals the documented fold") {
    def fold(bs: Array[Byte]): Long =
      bs.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
    val bytes = "some payload".getBytes("UTF-8")
    val (_, _, checksum) = Multimodal.stubDecode(bytes)
    assert(checksum === fold(bytes))
  }

  test("frame sampling emits stride-spaced indexes") {
    val media = Seq((1L, 10), (2L, 1)).toDF("id", "n_frames")
    val got = Multimodal.sampleFrameIndexes(media, "n_frames", stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(got === Set((1L, 0), (1L, 4), (1L, 8), (2L, 0)))
  }

  test("non-UTF8 binary blobs round-trip parquet and decode deterministically") {
    // real binary fixture: every byte value 0x00-0xFF (most are invalid
    // UTF-8) plus a PNG-style magic header — exercises the encoder and the
    // parquet binary path with payloads that are NOT reinterpretable text
    val raw = Array.tabulate[Byte](256)(_.toByte)
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a,
      0x0a) ++ Array.fill[Byte](64)(0xff.toByte)
    val tmp = TmpDirs.scratch("graft_mm")
      .resolve("blobs.parquet").toString
    Seq(MediaRecord(1L, "image", png, "synthetic://png"),
      MediaRecord(2L, "bin", raw, "synthetic://raw")).toDS()
      .write.mode("overwrite").parquet(tmp)
    val feats = Multimodal
      .extractFeatures(spark.read.parquet(tmp).as[MediaRecord])
      .collect().map(f => f.id -> f).toMap
    // checksums match a driver-side fold of the ORIGINAL arrays, proving
    // the blobs survived encode → parquet → decode bit for bit
    def fold(bs: Array[Byte]): Long =
      bs.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
    assert(feats(1L).checksum === fold(png) && feats(1L).nBytes === 72L)
    assert(feats(2L).checksum === fold(raw) && feats(2L).nBytes === 256L)
  }

  test("resizeToFit: aspect preserved, fits maxDim, never below 1px") {
    val dims = Seq((640L, 480L), (10L, 2000L), (1L, 1L), (224L, 224L))
      .toDF("w", "h")
    val r = Multimodal.resizeToFit(dims, "w", "h", 224).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getLong(3)))
      .toMap
    assert(r((640L, 480L)) === ((224L, 168L)))
    assert(r((10L, 2000L)) === ((1L, 224L))) // floor(10*224/2000)=1
    assert(r((1L, 1L)) === ((224L, 224L)))   // scale-to-fit includes upscale
    assert(r((224L, 224L)) === ((224L, 224L)))
  }

  test("binaryFile directory ingest: glob-pruned listing, stable ids, decodable blobs") {
    val dir = TmpDirs.scratch("graft_media")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.img", Array[Byte](1, 2, 3, 4, 5))
    put("b.img", Array[Byte](9, 8, 7))
    put("c.aud", Array[Byte](42))
    put("skip.txt", Array[Byte](0)) // outside the glob — never read

    val media = Multimodal.readMediaDirectory(
      spark, dir.toString, glob = "*.{img,aud}")
    val rows = media.collect()
    assert(rows.length === 3)
    assert(rows.map(_.kind).sorted.toSeq === Seq("aud", "img", "img"))
    // ids are stable across reruns (hash of path, no zipWithIndex order
    // dependence)
    val again = Multimodal.readMediaDirectory(
      spark, dir.toString, glob = "*.{img,aud}")
      .collect().map(r => r.sourceUri -> r.id).toMap
    rows.foreach(r => assert(again(r.sourceUri) === r.id))
    // blobs feed the same batched decode seam as any other media
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.id -> f).toMap
    rows.foreach { r =>
      val (w, h, c) = Multimodal.stubDecode(r.bytes)
      val f = feats(r.id)
      assert((f.width, f.height, f.checksum) === ((w, h, c)))
      assert(f.nBytes === r.bytes.length.toLong)
    }
  }

  test("real image decode: ImageIO kinds get true dimensions, corrupt payloads fall back") {
    import java.awt.image.BufferedImage
    val dir = TmpDirs.scratch("graft_img")
    def write(name: String, w: Int, h: Int, fmt: String): Unit = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 31 + y) & 0xffffff)
      javax.imageio.ImageIO.write(img, fmt, dir.resolve(name).toFile)
    }
    write("a.png", 37, 23, "png")
    write("b.bmp", 64, 8, "bmp")
    java.nio.file.Files.write(dir.resolve("c.png"), Array[Byte](1, 2, 3)) // corrupt
    // kernel level: real bytes decode to exact dims
    val pngBytes = java.nio.file.Files.readAllBytes(dir.resolve("a.png"))
    assert(Multimodal.imageDecode(pngBytes) === Some((37, 23)))
    assert(Multimodal.imageDecode(Array[Byte](1, 2, 3)) === None)
    // pipeline level: binaryFile ingest → batched decode → features
    val media = Multimodal.readMediaDirectory(spark, dir.toString,
      glob = "*.{png,bmp}")
    val idByName = media.collect()
      .map(m => m.sourceUri.split('/').last -> m.id).toMap
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.id -> f).toMap
    val a = feats(idByName("a.png"))
    assert((a.width, a.height) === ((37, 23)))
    val b = feats(idByName("b.bmp"))
    assert((b.width, b.height) === ((64, 8)))
    // corrupt png: decoder yields None → deterministic stub dims, no crash
    val c = feats(idByName("c.png"))
    val (sw, sh, _) = Multimodal.stubDecode(Array[Byte](1, 2, 3))
    assert((c.width, c.height) === ((sw, sh)))
  }

  test("wav codec: encode/decode round-trip, chunk tolerance, corrupt input") {
    import Multimodal.{wavEncode, wavDecode, WavMeta}
    // exact round-trip at the parameter corners the query entry uses
    for (rate <- Seq(8000, 16000); ch <- Seq(1, 2); frames <- Seq(1, 100)) {
      val blob = wavEncode(rate, ch, 16, frames)
      assert(blob.length === 44 + frames * ch * 2)
      assert(wavDecode(blob) ===
        Some(WavMeta(rate, ch, 16, frames.toLong * ch * 2)))
    }
    // javax.sound agrees the container is genuine WAV (independent reader)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wavEncode(12000, 2, 16, 50)))
    assert(ais.getFormat.getSampleRate === 12000f)
    assert(ais.getFormat.getChannels === 2)
    assert(ais.getFrameLength === 50L)
    // an extra LIST chunk between fmt and data still parses (chunk walk,
    // not a fixed 44-byte offset)
    val base = wavEncode(8000, 1, 16, 4)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    val withList = base.slice(0, 36) ++ listChunk ++ base.slice(36, base.length)
    // fix up the RIFF size field for the inserted chunk
    java.nio.ByteBuffer.wrap(withList)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, withList.length - 8)
    assert(wavDecode(withList) === Some(WavMeta(8000, 1, 16, 8L)))
    // header-only contract: the payload may be absent entirely
    assert(wavDecode(base.slice(0, 44)) === Some(WavMeta(8000, 1, 16, 8L)))
    // a negative declared chunk length must return None, not seek
    // backward onto its own header and loop forever (review finding)
    val negLen = "RIFF".getBytes("US-ASCII") ++ Array[Byte](36, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++ "data".getBytes("US-ASCII") ++
      Array[Byte](-8, -1, -1, -1) ++ new Array[Byte](16)
    assert(wavDecode(negLen) === None)
    // corrupt / truncated / non-WAV → None, never a throw
    assert(wavDecode(Array[Byte]()) === None)
    assert(wavDecode("RIFFxxxxJUNK".getBytes("US-ASCII")) === None)
    assert(wavDecode(base.slice(0, 20)) === None)
    assert(wavDecode("not a wav at all, just text bytes".getBytes) === None)
  }

  test("mm_audio_features: real blobs, metadata recovered from bytes") {
    val out = SparkEntry.queries("mm_audio_features")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val docId = r.getLong(0)
      assert(r.getLong(1) === 8000 + (docId % 5) * 2000) // sample_rate
      assert(r.getLong(2) === 1 + docId % 2)             // n_channels
      assert(r.getLong(5) === 44 + r.getLong(3) * r.getLong(2) * 2) // n_bytes
      assert(r.getLong(4) === r.getLong(3) * 1000 / r.getLong(1))   // ms
    }
  }

  test("features drop the payload column (blobs never reach the shuffle)") {
    val schema = implicitly[org.apache.spark.sql.Encoder[MediaFeatures]]
      .schema.fieldNames.toSet
    assert(!schema.contains("bytes"))
  }
  test("blobDedup: identical payloads collapse on sha256; null == empty") {
    val media = Seq(
      (1L, "same payload"),
      (2L, "same payload"),   // exact duplicate of 1
      (3L, "different"),
      (4L, null),             // null payload...
      (5L, "")                // ...groups with the empty payload
    ).toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text").cast("binary").as("bytes"))
    val out = graft.operators.Multimodal.blobDedup(media, "doc_id", "bytes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Array(
      (1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 2L), (5L, 4L, 2L)))
  }

  test("perceptualHash: deterministic, local to the edited cell, exact-integer") {
    import graft.operators.Multimodal.perceptualHash
    val rng = new scala.util.Random(9)
    val blob = Array.fill(4096)(rng.nextInt(256).toByte)
    assert(perceptualHash(blob) === perceptualHash(blob.clone()))
    assert(perceptualHash(null) === 0L)
    assert(perceptualHash(Array.emptyByteArray) === 0L)
    // total-preserving first/middle swap perturbs at most TWO cells
    val swapped = blob.clone()
    val mid = swapped.length / 2
    val t = swapped(0); swapped(0) = swapped(mid); swapped(mid) = t
    val hamming = java.lang.Long.bitCount(
      perceptualHash(blob) ^ perceptualHash(swapped))
    assert(hamming <= 2, s"swap moved $hamming bits")
    // a different random blob is far (the fingerprint actually separates)
    val other = Array.fill(4096)(rng.nextInt(256).toByte)
    assert(java.lang.Long.bitCount(
      perceptualHash(blob) ^ perceptualHash(other)) > 10)
  }

  test("raster hash is re-encode-invariant: PNG and its BMP transcode fingerprint identically; container-byte hash misses") {
    import graft.operators.Multimodal._
    val png = pngEncode(33, 21, seed = 5L)
    val bmp = reencodeImage(png)
    // a genuine transcode: a different container entirely (BMP magic),
    // so sha256 can never group the pair
    assert(!png.sameElements(bmp))
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    // raster seam: bit-identical fingerprints (both codecs lossless)
    assert(rasterPerceptualHash(png).isDefined)
    assert(rasterPerceptualHash(png) === rasterPerceptualHash(bmp))
    // the container-byte hash MISSES the transcode (every byte changed)
    // — the raster path is load-bearing, not decorative
    assert(java.lang.Long.bitCount(
      perceptualHash(png) ^ perceptualHash(bmp)) > 2,
      "container-byte hash should not survive a re-encode")
    // determinism across calls (the plant contract)
    assert(reencodeImage(png).sameElements(bmp))
  }

  test("byte-seam fallback for undecodable payloads; decodable images take the raster seam") {
    import graft.operators.Multimodal._
    // WAV: a real container, but not an image — byte seam
    val wav = wavEncode(8000, 1, 16, 50, payloadSeed = Some(3L))
    assert(rasterPerceptualHash(wav) === None)
    assert(mediaPerceptualHash(wav) === perceptualHash(wav))
    // arbitrary bytes — byte seam
    val junk = Array.tabulate(512)(i => mixByte(11L, i))
    assert(rasterPerceptualHash(junk) === None)
    assert(mediaPerceptualHash(junk) === perceptualHash(junk))
    // a corrupted PNG (signature byte flipped) loses decodability and
    // falls to the byte seam — the documented routing consequence
    val png = pngEncode(24, 16, seed = 7L)
    val broken = png.clone(); broken(0) = 'X'.toByte
    assert(rasterPerceptualHash(broken) === None)
    assert(mediaPerceptualHash(broken) === perceptualHash(broken))
    // while the intact image routes to the raster seam
    assert(mediaPerceptualHash(png) === rasterPerceptualHash(png).get)
    // null/empty: byte seam's zero fingerprint
    assert(mediaPerceptualHash(null) === 0L)
    assert(mediaPerceptualHash(Array.emptyByteArray) === 0L)
  }

  test("perceptual near-dup catches a re-encoded image end to end (banding included); sha256 blind to it") {
    import graft.operators.Multimodal._
    val png = pngEncode(40, 25, seed = 21L)
    val media = (Seq((1L, png), (2L, reencodeImage(png))) ++
      (10 until 25).map(i => (i.toLong, pngEncode(30 + i % 7, 20, i.toLong))))
      .toDF("id", "bytes")
    val pairs = perceptualNearDup(media, "id", "bytes")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((1L, 2L)) === Some(0L),
      "re-encoded raster must pair at hamming 0")
    val sha = graft.operators.Multimodal.blobDedup(media, "id", "bytes")
      .filter($"id".isin(1L, 2L)).collect().map(_.getLong(1)).distinct
    assert(sha.length === 2, "sha256 must NOT group the re-encoded copy")
  }

  test("perceptual near-dup: exact copy at hamming 0, corrupted copy within 2; sha256 blind to it") {
    val rng = new scala.util.Random(13)
    def blob() = Array.fill(2048)(rng.nextInt(256).toByte)
    val base = blob()
    val corrupted = base.clone()
    val mid = corrupted.length / 2
    val t = corrupted(0); corrupted(0) = corrupted(mid); corrupted(mid) = t
    val media = (Seq((1L, base), (2L, base.clone()), (3L, corrupted)) ++
      (10 until 30).map(i => (i.toLong, blob()))).toDF("id", "bytes")
    val pairs = graft.operators.Multimodal
      .perceptualNearDup(media, "id", "bytes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) === 0L, "exact copy must verify at hamming 0")
    assert(byPair.contains((1L, 3L)) && byPair((1L, 3L)) <= 2L,
      "2-byte corruption must stay within the radius")
    // the corruption defeats the cryptographic pass (why this operator exists)
    val sha = graft.operators.Multimodal.blobDedup(media, "id", "bytes")
      .filter($"id".isin(1L, 3L)).collect().map(_.getLong(1)).distinct
    assert(sha.length === 2, "sha256 must NOT group the corrupted copy")
  }

  test("perceptual hot bucket degrades to a star; CC recovers the group") {
    val rng = new scala.util.Random(17)
    val base = Array.fill(1024)(rng.nextInt(256).toByte)
    // 30 byte-identical blobs: identical fingerprints put all 30 ids in
    // one (band, key) bucket per band; with cap 8 the self-join would be
    // C(30,2)=435 pairs — the star guard must emit the 29 spanning edges
    val media = (0 until 30).map(i => (i.toLong, base.clone()))
      .toDF("id", "bytes")
    val pairs = graft.operators.Multimodal
      .perceptualNearDup(media, "id", "bytes", dfCap = Some(8))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 29)
    assert(got.forall(_._1 == 0L))
    val cc = graft.operators.Dedup.connectedComponents(
      pairs.select($"id_a".as("doc_a"), $"id_b".as("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === 30 && cc.forall(_._2 == 0L))
  }

  test("mm_neardup gate passes end to end on a parquet corpus") {
    val docs = (0 until 120).map(i =>
      (i.toLong, s"document $i body " + ("x" * (50 + i % 37)), "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions
        .length($"text").cast("long"))
    val dir = TmpDirs.scratch("graft_mmnd").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = graft.operators.Multimodal.qMediaNearDupGate(spark, dir).head()
    assert(row.getLong(0) === 2L)
    assert(row.getLong(1) === 4L) // exact: 0,30,60,90
    assert(row.getLong(2) === 6L) // re-encode: 0,20,40,60,80,100
    assert(row.getLong(3) === 6L) // wav swap: 5,25,45,65,85,105
    assert(row.getBoolean(4), "exact copies must all be caught")
    assert(row.getBoolean(5), "re-encoded rasters must all be caught")
    assert(row.getBoolean(6), "corrupted wav copies must all be caught")
    assert(row.getBoolean(7))
  }

  test("pngEncode emits a genuine PNG: imageDecode reads the true dimensions back") {
    import graft.operators.Multimodal.{pngEncode, imageDecode}
    val blob = pngEncode(31, 17, seed = 42L)
    // PNG signature bytes — a real container, not a stub
    assert((blob(0) & 0xff) === 0x89 && blob(1) === 'P'.toByte)
    assert(imageDecode(blob) === Some((31, 17)))
    // deterministic across calls (the planted exact-copy contract
    // depends on re-encoding the same row to identical bytes)
    assert(blob.sameElements(pngEncode(31, 17, seed = 42L)))
    assert(!blob.sameElements(pngEncode(31, 17, seed = 43L)))
  }

  test("seeded wav payload: deterministic, still a valid header-only parse, entropy varies by seed") {
    import graft.operators.Multimodal.{wavEncode, wavDecode}
    val a = wavEncode(8000, 1, 16, 40, payloadSeed = Some(7L))
    val b = wavEncode(8000, 1, 16, 40, payloadSeed = Some(8L))
    assert(a.sameElements(wavEncode(8000, 1, 16, 40, payloadSeed = Some(7L))))
    assert(!a.sameElements(b), "different seeds must give different payloads")
    assert(wavDecode(a).exists(m => m.sampleRate == 8000 && m.dataBytes == 80L))
  }

  test("mm_neardup gate: derived clone offsets survive ids past the old fixed constants") {
    // ids spanning far past 2M/3M (the r15 fixed offsets) — the derived
    // offset must clear them, so every planted pair is still counted
    val docs = (0 until 60).map(i =>
      (i.toLong * 1000000L, s"document $i body " + ("x" * (50 + i % 37)), "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions
        .length($"text").cast("long"))
    val dir = TmpDirs.scratch("graft_mmnd_off").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = graft.operators.Multimodal.qMediaNearDupGate(spark, dir).head()
    // ids are i·10⁶: 10⁶ ≡ 10 (mod 30) → %30 hits every 3rd i; 10⁶ ≡ 0
    // (mod 20) → %20==0 hits all 60 and %20==5 hits none (all even —
    // the wav-swap family is vacuously caught here)
    assert(row.getLong(1) === 20L && row.getLong(2) === 60L &&
      row.getLong(3) === 0L)
    assert(row.getBoolean(4) && row.getBoolean(5) && row.getBoolean(6) &&
      row.getBoolean(7))
  }
}
