package graft.multimodal

import graft.SparkSpec
import Multimodal._

/** The multimodal contract: real PPM/WAV codec round-trips, decode
  * determinism, feature shape, generator shapes, and the dashboard
  * summary. */
class MultimodalSpec extends SparkSpec {

  private lazy val assets = syntheticAssets(spark, sfDir)

  test("PPM codec round-trips pixels and survives header comments") {
    val rgb = Array.tabulate(8 * 5 * 3)(i => (i * 7).toByte)
    val enc = Codecs.encodePpm(8, 5, rgb)
    val (w, h, px) = Codecs.decodePpm(enc)
    assert(w == 8 && h == 5 && px.sameElements(rgb))
    val commented = ("P6\n# a comment\n8 5\n# more\n255\n".getBytes("US-ASCII") ++ rgb)
    val (w2, h2, px2) = Codecs.decodePpm(commented)
    assert(w2 == 8 && h2 == 5 && px2.sameElements(rgb))
  }

  test("WAV codec round-trips samples and sample rate") {
    val samples = Array.tabulate(777)(i => (math.sin(i * 0.1) * 5000).toShort)
    val enc = Codecs.encodeWav(8000, samples)
    val (sr, ch, got) = Codecs.decodeWav(enc)
    assert(sr == 8000 && ch == 1 && got.sameElements(samples))
  }

  test("nearest-neighbor resize maps corners onto corners") {
    // 2x2 image with distinct corner colors → 4x4 resize keeps quadrants
    val rgb = Array[Byte](
      10, 10, 10, 20, 20, 20,
      30, 30, 30, 40, 40, 40)
    val out = Codecs.resizeNearest(2, 2, rgb, 4, 4)
    assert(out(0) == 10 && out((0 * 4 + 3) * 3) == 20)
    assert(out((3 * 4 + 0) * 3) == 30 && out((3 * 4 + 3) * 3) == 40)
  }

  test("synthetic assets cover all kinds with parseable payloads") {
    val rows = assets.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.kind).toSet == Set("image", "audio", "video"))
    rows.foreach { a =>
      assert(a.bytes.nonEmpty)
      assert(a.meta.contains("lang") && a.meta.contains("codec"))
    }
  }

  test("decode parses real headers deterministically") {
    val d1 = decode(assets).collect().sortBy(_.asset_id)
    val d2 = decode(assets).collect().sortBy(_.asset_id)
    assert(d1.map(_.toString).toSeq == d2.map(_.toString).toSeq)
    d1.foreach { m =>
      m.kind match {
        case "image" =>
          assert(m.width >= 8 && m.height >= 8 && m.channels == 3 && m.n_frames == 1)
        case "audio" =>
          assert(m.sample_rate == 8000 && m.channels == 1 && m.width >= 400)
        case "video" =>
          assert(m.n_frames >= 3 && m.channels == 3)
      }
      assert(m.n_bytes > 0)
    }
  }

  test("feature extraction yields fixed-dim vectors, stable across runs") {
    val f1 = extractFeatures(assets, dim = 16).collect().sortBy(_.asset_id)
    assert(f1.forall(_.feature.length == 16))
    assert(f1.exists(_.feature.exists(_ != 0.0f)))
    val f2 = extractFeatures(assets, dim = 16).collect().sortBy(_.asset_id)
    (f1 zip f2).foreach { case (a, b) =>
      assert(a.feature.sameElements(b.feature))
    }
  }

  test("frame stream parses to valid frames that reassemble the payload") {
    val frames = sampleFrames(assets, step = 1).collect().groupBy(_.asset_id)
    assert(frames.nonEmpty)
    val videos = assets.filter(_.kind == "video").collect()
      .map(a => a.asset_id -> a.bytes).toMap
    frames.foreach { case (id, fs) =>
      fs.foreach { f =>
        val (w, h, px) = Codecs.decodePpm(f.frame_bytes)
        assert(w > 0 && h > 0 && px.length == w * h * 3)
      }
      val reassembled = fs.sortBy(_.frame_idx).flatMap(_.frame_bytes)
      assert(reassembled.sameElements(videos(id)))
    }
  }

  test("frame sampling with a step picks every step-th frame") {
    val sampled = sampleFrames(assets, step = 2).collect().groupBy(_.asset_id)
    sampled.values.foreach { fs =>
      assert(fs.map(_.frame_idx).sorted.toSeq == fs.map(_.frame_idx).sorted.distinct.toSeq)
      fs.foreach(f => assert(f.frame_idx % 2 == 0))
    }
  }

  test("thumbnails are valid fixed-size PPMs") {
    val th = thumbnails(assets, side = 4).collect()
    assert(th.nonEmpty)
    th.foreach { t =>
      val (w, h, px) = Codecs.decodePpm(t.thumb)
      assert(w == 4 && h == 4 && px.length == 48)
    }
  }

  test("pipeline summary groups by kind deterministically") {
    val s = Multimodal.pipelineSummary(spark, sfDir).collect()
    assert(s.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    s.foreach(r => assert(r.getAs[Long]("n_assets") > 0))
    val video = s.find(_.getString(0) == "video").get
    assert(video.getAs[Long]("total_frames") > 0)
    val audio = s.find(_.getString(0) == "audio").get
    assert(audio.getAs[Int]("max_sample_rate") == 8000)
  }

  test("aHash: identical pixels hash equal; uniform brightness shift is near-invariant") {
    val rnd = new scala.util.Random(5)
    val w = 12; val h = 9
    val px = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    val a = Codecs.aHash(w, h, px)
    assert(Codecs.aHash(w, h, px.clone()) == a)
    // +1 on every byte (what consecutive synthetic frames do) moves the
    // mean with the pixels — hash distance stays small
    val shifted = px.map(b => (((b & 0xFF) + 1) & 0xFF).toByte)
    val d = java.lang.Long.bitCount(a ^ Codecs.aHash(w, h, shifted))
    assert(d <= 8, s"uniform shift moved $d bits")
    // scrambled pixels are far
    val scrambled = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    assert(java.lang.Long.bitCount(a ^ Codecs.aHash(w, h, scrambled)) > 8)
  }

  test("frame near-dup equals brute force over all frame hashes (pigeonhole lossless)") {
    import spark.implicits._
    val hashes = Multimodal.frameHashes(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hashes.nonEmpty)
    val want = (for {
      (ka, ha) <- hashes; (kb, hb) <- hashes if ka < kb
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (ka / 100, (ka % 100).toInt, kb / 100, (kb % 100).toInt, d)).toSet
    val got = Multimodal.frameNearDup(spark, sfDir, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSet
    assert(got == want)
    // the signal is real: intra-video consecutive-frame pairs exist
    assert(want.exists { case (a, _, b, _, _) => a == b })
  }

  test("visual dup clusters equal union-find over brute-force hamming pairs") {
    val hashes = Multimodal.frameHashes(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find over ALL frame pairs within hamming 7
    val parent = scala.collection.mutable.HashMap(hashes.toIndexedSeq.map(h => h._1 -> h._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for { (ka, ha) <- hashes; (kb, hb) <- hashes
          if ka < kb && java.lang.Long.bitCount(ha ^ hb) <= 7 } {
      val (ra, rb) = (find(ka), find(kb))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = hashes.groupBy(h => find(h._1)).map { case (root, members) =>
      (members.map(_._1).min, members.length.toLong,
        members.map(_._2).distinct.length.toLong)
    }.toSet
    val got = Multimodal.visualDupClusters(spark, sfDir, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("dominant frequency recovers a sine's pitch, invariant to gain and length") {
    def sine(sr: Int, n: Int, f: Double, amp: Double) =
      Array.tabulate(n)(i => (math.sin(2 * math.Pi * f * i / sr) * amp).toShort)
    val f0 = Codecs.dominantFreq(8000, sine(8000, 800, 440.0, 3000))
    assert(math.abs(f0 - 440.0) < 15.0, s"est $f0")
    // louder and longer versions estimate the same pitch
    val loud = Codecs.dominantFreq(8000, sine(8000, 800, 440.0, 20000))
    val long = Codecs.dominantFreq(8000, sine(8000, 3200, 440.0, 3000))
    assert(math.abs(f0 - loud) < 10.0 && math.abs(f0 - long) < 10.0)
    // a different pitch separates by more than one 25 Hz bucket
    val other = Codecs.dominantFreq(8000, sine(8000, 800, 600.0, 3000))
    assert(math.abs(other - f0) > 100.0)
    assert(Codecs.dominantFreq(8000, Array.empty[Short]) == 0.0)
  }

  test("audio dup groups bucket same-pitch assets and match a naive recompute") {
    val got = Multimodal.audioDupGroups(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // naive recompute from the decoded assets
    val naive = assets.filter(_.kind == "audio").collect().map { a =>
      val (sr, _, s) = Codecs.decodeWav(a.bytes)
      (a.asset_id, (math.round(Codecs.dominantFreq(sr, s) / 25) * 25).toInt)
    }.groupBy(_._2).collect { case (b, xs) if xs.length >= 2 =>
      (b, xs.length.toLong, xs.map(_._1).min, xs.map(_._1).max)
    }.toSet
    assert(got.toSet == naive)
    // buckets come out sorted
    assert(got.map(_._1).sameElements(got.map(_._1).sorted))
  }
}
