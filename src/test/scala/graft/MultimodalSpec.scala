package graft

import graft.operators.Multimodal

/** Multimodal plumbing: schema, partition-batched decode, determinism. */
class MultimodalSpec extends SparkSpec {

  test("decodeAll produces deterministic features with the real schema") {
    val media = Multimodal.mediaFromDocuments(spark, sf)
    val feats = Multimodal.decodeAll(media)
    assert(feats.columns.toSeq === Seq("media_id", "kind", "n_bytes",
      "width", "height", "n_frames", "brightness"))
    val rows = feats.collect()
    assert(rows.length === 500)
    // deterministic: second run identical
    val again = Multimodal.decodeAll(media).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
    // stub invariants hold
    rows.foreach { f =>
      assert(f.n_bytes > 0 && f.brightness >= 0.0 && f.brightness <= 1.0)
      assert(f.n_frames >= 1 && f.n_frames <= 30)
    }
  }

  test("decode runs per-partition (no driver collect)") {
    val media = Multimodal.mediaFromDocuments(spark, sf).repartition(3)
    assert(Multimodal.decodeAll(media).rdd.getNumPartitions === 3)
  }

  test("PPM decoder: known pixel stats on a hand-built image") {
    // 2x1 P6: one black pixel, one white pixel -> mean brightness 0.5
    val img = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, -1, -1, -1)
    assert(Multimodal.decodePpm(img) === Some((2, 1, 0.5)))
    // comments between header tokens are skipped
    val commented = "P6\n# a comment\n2 1\n# another\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, -1, -1, -1)
    assert(Multimodal.decodePpm(commented) === Some((2, 1, 0.5)))
    // non-PPM magic -> None (falls back to the stub path)
    assert(Multimodal.decodePpm("JFIFxxxx".getBytes("US-ASCII")) === None)
    // truncated pixel plane -> None, so one bad payload can't fail the job
    val truncated = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](0, 0)
    assert(Multimodal.decodePpm(truncated) === None)
    // 16-bit maxval -> None (we only read 1-byte samples; accepting it
    // would compute brightness over half the pixel plane)
    val deep = "P6\n1 1\n65535\n".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 0, 1, 0, 1)
    assert(Multimodal.decodePpm(deep) === None)
    // adversarial 9-digit dims must not overflow the plane size
    val huge = "P6\n99999999 99999999\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0)
    assert(Multimodal.decodePpm(huge) === None)
  }

  test("P6 parsers: a dimension of 10 or more digits is malformed, not an " +
    "exception") {
    for (dim <- Seq("2147483648", "99999999999", "0000000002")) {
      val p = s"P6\n$dim 1\n255\n".getBytes("US-ASCII") ++ Array.fill[Byte](6)(0)
      assert(Multimodal.pixelPlane(p).isEmpty, dim)
      assert(Multimodal.decodePpm(p).isEmpty, dim)
      assert(Multimodal.histBins16(p).isEmpty, dim)
    }
    // the 9-digit cap leaves ordinary dims alone
    val ok = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3, 4, 5, 6)
    assert(Multimodal.pixelPlane(ok).map(t => (t._1, t._2, t._3.toSeq)) ===
      Some((2, 1, Seq[Byte](1, 2, 3, 4, 5, 6))))
  }

  test("frame decoder: counts, truncation stops cleanly, brightness exact") {
    import graft.operators.Multimodal
    val id = 7L
    val video = Multimodal.synthVideo(id)
    val frames = Multimodal.decodeFrames(video)
    assert(frames.size === 2 + (id % 4).toInt)
    assert(frames.forall { case (w, h, _) =>
      w == 4 + (id % 5).toInt && h == 3 + (id % 4).toInt })
    // per-frame pixel sums match the synthesis formula exactly
    frames.zipWithIndex.foreach { case ((w, h, sum), f) =>
      val expected = (0 until w * h * 3).map(i => (id * 31 + f * 13 + i * 7) % 256).sum
      assert(sum === expected, s"frame $f")
    }
    // truncating mid-frame drops only the trailing partial frame
    val truncated = Multimodal.decodeFrames(video.dropRight(5))
    assert(truncated.size === frames.size - 1)
    assert(truncated === frames.dropRight(1))
    // garbage after valid frames stops the scan without throwing
    val garbage = Multimodal.decodeFrames(video ++ Array[Byte]('X', 'Y'))
    assert(garbage === frames)
  }

  test("WAV decoder: header fields, exact amplitude, malformed -> None") {
    import graft.operators.Multimodal
    val id = 13L
    val wav = Multimodal.synthWav(id)
    val f = Multimodal.decodeWav(wav).get
    assert(f.sample_rate === 8000)
    assert(f.n_samples === 64 + (id % 64).toInt)
    val expected = (0 until f.n_samples)
      .map(i => math.abs((id * 37 + i * 11) % 2048 - 1024)).sum
    assert(f.mean_abs === expected.toDouble / (f.n_samples.toLong * 1024L))
    // corrupted magic, truncated data plane, odd data length -> None
    val bad = wav.clone(); bad(0) = 'X'
    assert(Multimodal.decodeWav(bad).isEmpty)
    assert(Multimodal.decodeWav(wav.dropRight(3)).isEmpty)
    assert(Multimodal.decodeWav(Array[Byte]()).isEmpty)
  }

  test("resize half: exact sampling grid on hand-built odd/even images") {
    // 3x2 image, pixel bytes 0..17: sampled pixels are (r,c) in
    // {0}×{0,2} -> bytes 0,1,2 and 6,7,8 -> sum 24; resized dims 2x1
    val px = (0 until 18).map(_.toByte).toArray
    val img = "P6\n3 2\n255\n".getBytes("US-ASCII") ++ px
    assert(Multimodal.resizeHalfStats(img) === Some((2, 1, 24L)))
    // 1x1 image: single pixel survives
    val one = "P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30)
    assert(Multimodal.resizeHalfStats(one) === Some((1, 1, 60L)))
    // malformed: not P6 / truncated plane
    assert(Multimodal.resizeHalfStats("P5\n1 1\n255\n".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.resizeHalfStats(img.dropRight(2)).isEmpty)
  }

  test("synthesized PPM round-trips through the real decoder") {
    val feats = Multimodal.decodeAll(Multimodal.mediaFromPpm(spark, sf))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.nonEmpty)
    feats.foreach { case (id, f) =>
      assert(f.width === 4 + (id % 5).toInt)
      assert(f.height === 3 + (id % 4).toInt)
      assert(f.n_frames === 1)
      assert(f.brightness >= 0.0 && f.brightness <= 1.0)
      // brightness must match the synthesis formula exactly
      val n = f.width * f.height * 3
      val expected = (0 until n).map(i => (id * 31 + i * 7) % 256).sum
        .toDouble / n / 255
      assert(f.brightness === expected)
    }
  }

  test("scene cuts reject a payload whose frame dims change mid-stream") {
    import spark.implicits._
    def frame(w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
      bos.write(new Array[Byte](w * h * 3))
      bos.toByteArray
    }
    val ds = Seq(operators.Multimodal.MediaRow(7L, frame(4, 3) ++ frame(5, 3),
      "video")).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      operators.Multimodal.sceneCuts(ds).collect()
    }
    assert(ex.getMessage.contains("changes frame dims mid-stream") ||
      (ex.getCause != null &&
        ex.getCause.getMessage.contains("changes frame dims mid-stream")),
      s"wrong failure: ${ex.getMessage}")
  }
}
