package graft
package battery

import org.apache.spark.sql.functions._
import graft.ext.{MediaContainers, Multimodal}

import BatteryFixtures._

/** Multimodal: native image, audio and video decode and container
  * parsing over synthesized binary payloads.
  */
object MultimodalQueries extends Family("multimodal") {

  val specs: Seq[QuerySpec] = Seq(

    // extension: multimodal binary column metadata

    QuerySpec("q_multimodal_meta", { (s, d) =>
      t(s, d)("documents")
        .withColumn("blob", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          length(col("blob")).cast("long").as("n_bytes"),
          md5(col("text")).as("content_md5"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // extension: NATIVE raster decode (PPM P6, no codec lib) + grid-luma
    // features via mapPartitions — the real half of the multimodal kernel
    QuerySpec("q_multimodal_decode", { (s, d) =>
      import s.implicits._
      import graft.ext.Multimodal
      val W = 8
      val packed = t(s, d)("documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val header = s"P6\n$W $W\n255\n".getBytes("US-ASCII")
            val px = new Array[Byte](W * W * 3)
            var i = 0
            while (i < W * W) {
              val v = ((id * 31 + i) % 256).toByte
              px(3 * i) = v; px(3 * i + 1) = v; px(3 * i + 2) = v
              i += 1
            }
            (id, header ++ px)
          }
        }.toDF("doc_id", "media")
      Multimodal.extractFeatures(packed, "doc_id", grid = 2)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("cell", "v")))
        .select(col("doc_id"), col("cell").cast("long").as("cell"),
          round(col("v").cast("double"), 4).as("v"))
        .orderBy("doc_id", "cell")
    },
      // pixel (x,y) of doc i has all channels = (doc_id*31 + y*8 + x) % 256, so
      // luma = that value / 255 (coefficients sum to 1); grid-2 cells average
      // 4×4 pixel blocks — fully replicable in SQL
      """WITH px AS (
        |  SELECT doc_id, i % 8 AS x, i // 8 AS y,
        |    ((doc_id * 31 + i) % 256) / 255.0 AS l
        |  FROM documents, (SELECT unnest(generate_series(0, 63)) AS i) ii)
        |SELECT doc_id, CAST((y // 4) * 2 + (x // 4) AS BIGINT) AS cell,
        |  round(avg(l), 4) AS v
        |FROM px GROUP BY doc_id, (y // 4) * 2 + (x // 4)
        |ORDER BY 1, 2""".stripMargin),

    // extension: native WAV/PCM audio decode round-trip — synthesized
    // integer-sawtooth payloads pack to real RIFF bytes, decode through the
    // chunk parser, and featurize; the closed-form signal gives an exact
    // SQL oracle for the whole pack→decode→feature path
    QuerySpec("q_audio_features", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 100)
      val packed = Multimodal.synthesizeWav(ids, "doc_id", n = 480, sampleRate = 8000)
      Multimodal.audioFeatureFrame(packed, "doc_id")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          round(col("duration_ms"), 2).as("duration_ms"),
          round(col("rms_raw"), 2).as("rms"))
        .orderBy("doc_id")
    },
      // closed-form replay of the synthetic sawtooth: the WAV pack→decode
      // round-trip must reproduce exactly these integer samples
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |s AS (SELECT doc_id, list_transform(generate_series(0, 479),
        |  i -> ((i * (doc_id + 3)) % 2000) - 1000) AS v FROM d)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(480 AS BIGINT) AS n_samples,
        |  round(480.0 * 1000 / 8000, 2) AS duration_ms,
        |  round(sqrt(list_sum(list_transform(v,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) / 480), 2) AS rms
        |FROM s ORDER BY doc_id""".stripMargin),

    // extension: nearest-neighbor PCM resample over the native WAV decode
    // — 8 kHz -> 3 kHz; the exact sample sum is the oracle check
    QuerySpec("q_audio_resample", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 100)
      val packed = Multimodal.synthesizeWav(ids, "doc_id", n = 480, sampleRate = 8000)
      Multimodal.resampleAudio(packed, "doc_id", "media", targetRate = 3000)
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("samp_sum"))
        .orderBy("doc_id")
    },
      // output sample j reads input ⌊j·8000/3000⌋; values regenerate from
      // the same sawtooth formula as synthesizeWav
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |s AS (SELECT doc_id, list_transform(generate_series(0, 179),
        |  j -> (((j * 8000 // 3000) * (doc_id + 3)) % 2000) - 1000) AS v FROM d)
        |SELECT doc_id, CAST(3000 AS BIGINT) AS sample_rate,
        |  CAST(180 AS BIGINT) AS n_samples,
        |  CAST(list_sum(v) AS BIGINT) AS samp_sum
        |FROM s ORDER BY doc_id""".stripMargin),

    // extension: image near-dup pairs — native PPM decode → 64-bit dHash →
    // Hamming-banded self-join (pigeonhole-complete at maxHamming 4);
    // payloads are deterministic 9×8 grayscale rasters keyed by doc_id so
    // the oracle recomputes the hash from pixel arithmetic
    // extension: real nearest-neighbor raster resize over the native
    // decode — 9x8 -> 4x3; the exact R-channel sum is the oracle check
    QuerySpec("q_image_resize", { (s, d) =>
      import s.implicits._
      val (w, h) = (9, 8)
      val packed = t(s, d)("documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
            val px = new Array[Byte](w * h * 3)
            var i = 0
            while (i < w * h) {
              val v = ((id * 37 + i.toLong * i * 13 + (id % 7) * i) % 256).toByte
              px(3 * i) = v; px(3 * i + 1) = v; px(3 * i + 2) = v
              i += 1
            }
            (id, header ++ px)
          }
        }.toDF("doc_id", "media")
      Multimodal.resizeImages(packed, "doc_id", "media", w2 = 4, h2 = 3)
        .select(col("doc_id"), col("w").cast("long").as("w"),
          col("h").cast("long").as("h"), col("pix_sum"))
        .orderBy("doc_id")
    },
      // 9×8 grayscale → dHash is the per-pixel right-neighbor compare (cell
      // = pixel); bit 63 lands in the sign bit (DuckDB 1<<63 overflows, so
      // CASE to long-min); sum CAST to BIGINT (DuckDB sum promotes to
      // HUGEINT, whose xor/bit_count would run 128-bit)
      // destination (x,y) samples source (x*9//4, y*8//3); pixel values
      // regenerate from the same closed-form formula as the Spark synthesis
      """WITH dst AS (SELECT x, y, (y * 8 // 3) * 9 + (x * 9 // 4) AS si
        |  FROM (SELECT unnest(generate_series(0, 3)) AS x) xx,
        |       (SELECT unnest(generate_series(0, 2)) AS y) yy)
        |SELECT doc_id, CAST(4 AS BIGINT) AS w, CAST(3 AS BIGINT) AS h,
        |  CAST(sum((doc_id * 37 + si * si * 13 + (doc_id % 7) * si) % 256)
        |    AS BIGINT) AS pix_sum
        |FROM documents, dst GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("q_image_neardup", { (s, d) =>
      import s.implicits._
      val (w, h) = (9, 8)
      val packed = t(s, d)("documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
            val px = new Array[Byte](w * h * 3)
            var i = 0
            while (i < w * h) {
              val v = ((id * 37 + i.toLong * i * 13 + (id % 7) * i) % 256).toByte
              px(3 * i) = v; px(3 * i + 1) = v; px(3 * i + 2) = v
              i += 1
            }
            (id, header ++ px)
          }
        }.toDF("doc_id", "media")
      Multimodal.imageNearDups(packed, "doc_id", "media", maxHamming = 4)
        .orderBy("id_a", "id_b")
    },
      """WITH px AS (SELECT doc_id, i,
        |    (doc_id * 37 + i * i * 13 + (doc_id % 7) * i) % 256 AS v
        |  FROM documents, (SELECT unnest(generate_series(0, 71)) AS i) ii),
        |bits AS (SELECT a.doc_id, (a.i // 9) * 8 + (a.i % 9) AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 9 < 8 AND a.v > b.v),
        |h AS (SELECT d.doc_id, CAST(coalesce(sum(
        |    CASE WHEN bit = 63 THEN -9223372036854775808
        |         ELSE (1::BIGINT << bit) END), 0) AS BIGINT) AS dhash
        |  FROM documents d LEFT JOIN bits ON bits.doc_id = d.doc_id GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 4
        |ORDER BY id_a, id_b""".stripMargin),

    // extension: native QOI image decode — procedurally synthesized QOI
    // payloads round-trip through the real codec (encode → decode) and the
    // decoded channel sums check closed-form against the pixel formula
    QuerySpec("q_qoi_decode", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id"))
        .where(col("doc_id") < 100)
      val packed = Multimodal.synthesizeQoi(ids, "doc_id", w = 16, h = 12)
      Multimodal.channelSums(packed, "doc_id").orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |xs AS (SELECT unnest(generate_series(0, 15)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 11)) AS y)
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  CAST(sum((x * 3 + y * 5 + doc_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((x * 7 + y + 2 * doc_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((x + y * 11 + 3 * doc_id) % 256) AS BIGINT) AS sum_b
        |FROM d, xs, ys GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: REAL PNG codec round-trip (JDK javax.imageio) — lossless,
    // so the decoded channel sums replay the synthesis formula in SQL
    // exactly, same closed-form oracle shape as q_qoi_decode
    QuerySpec("q_png_roundtrip", { (s, d) =>
      import graft.ext.Multimodal
      val ids = t(s, d)("documents").select(col("doc_id"))
        .where(col("doc_id") < 100)
      val packed = Multimodal.synthesizePng(ids, "doc_id", w = 16, h = 12)
      Multimodal.channelSums(packed, "doc_id").orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |xs AS (SELECT unnest(generate_series(0, 15)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 11)) AS y)
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  CAST(sum((x * 3 + y * 5 + doc_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((x * 7 + y + 2 * doc_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((x + y * 11 + 3 * doc_id) % 256) AS BIGINT) AS sum_b
        |FROM d, xs, ys GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: REAL baseline-JPEG decode (JDK javax.imageio) — lossy, so
    // the gate is a PSNR band vs the known source image: any correct
    // decoder clears 15 dB on this content (measured floor 19.2 dB at
    // q=0.9 across the id range), a broken one lands near 8-10 dB
    QuerySpec("q_jpeg_decode", { (s, d) =>
      import graft.ext.Multimodal
      val ids = t(s, d)("documents").select(col("doc_id"))
        .where(col("doc_id") < 100)
      val packed = Multimodal.synthesizeJpeg(ids, "doc_id", w = 16, h = 12,
        quality = 0.9f)
      Multimodal.psnrCheck(packed, "doc_id", w = 16, h = 12, minPsnrDb = 15.0)
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  true AS psnr_ok
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin),

    // extension: MP3 frame-header walk — ID3v2 skip, MPEG1/MPEG2 Layer III
    // framing, per-frame padding, Xing VBR tag detection; every output
    // field replays from the id arithmetic in SQL
    QuerySpec("q_mp3_meta", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 200)
      val packed = MediaContainers.synthesizeMp3(ids, "doc_id")
      MediaContainers.mp3MetaFrame(packed, "doc_id")
        .select(col("doc_id"), col("id3_bytes"), col("n_frames"),
          col("sample_rate"), col("channels"),
          round(col("bitrate_kbps"), 2).as("bitrate_kbps"),
          round(col("duration_ms"), 2).as("duration_ms"),
          col("mode"), col("xing_frames"))
        .orderBy("doc_id")
    },
      // closed-form replay of synthesizeMp3: bitrate index 2+id%13 into the
      // MPEG1-LIII / MPEG2-LII&III tables, 576 vs 1152 samples/frame,
      // ID3v2 = 10 + (1 + id%50) when id%5=0, Xing declares walked count
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |p AS (SELECT doc_id,
        |  doc_id % 3 = 0 AS mpeg2,
        |  CAST(2 + doc_id % 13 AS INT) AS br_idx,
        |  CAST(20 + doc_id % 30 AS BIGINT) AS nf FROM d),
        |q AS (SELECT doc_id, nf,
        |  CASE WHEN doc_id % 5 = 0 THEN 10 + 1 + doc_id % 50 ELSE 0 END AS id3_bytes,
        |  CASE WHEN mpeg2 THEN 22050 ELSE 44100 END AS sample_rate,
        |  CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS channels,
        |  CASE WHEN mpeg2
        |    THEN list_value(16,24,32,40,48,56,64,80,96,112,128,144,160)[br_idx - 1]
        |    ELSE list_value(40,48,56,64,80,96,112,128,160,192,224,256,320)[br_idx - 1]
        |  END AS bitrate,
        |  CASE WHEN mpeg2 THEN 576 ELSE 1152 END AS spf FROM p)
        |SELECT doc_id,
        |  CAST(id3_bytes AS BIGINT) AS id3_bytes,
        |  nf AS n_frames,
        |  CAST(sample_rate AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  round(CAST(bitrate AS DOUBLE), 2) AS bitrate_kbps,
        |  round(nf * spf * 1000.0 / sample_rate, 2) AS duration_ms,
        |  CASE WHEN doc_id % 5 = 0 THEN 'VBR' ELSE 'CBR' END AS mode,
        |  CASE WHEN doc_id % 5 = 0 THEN nf ELSE NULL END AS xing_frames
        |FROM q ORDER BY doc_id""".stripMargin),

    // extension: REAL G.711 μ-law/A-law decode (ITU-T G.711 segment
    // expansion, a pure closed-form integer kernel) over WAV format tags
    // 7/6 — compressed bytes are closed-form, so the decoded 16-bit
    // sample aggregates replay exactly in SQL through the same formula
    QuerySpec("q_g711_decode", { (s, d) =>
      import graft.ext.Multimodal
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 200)
      val u = Multimodal.pcmStatsFrame(
        Multimodal.synthesizeG711(ids, "doc_id", n = 240, aLaw = false), "doc_id")
        .withColumn("codec", lit("ulaw"))
      val a = Multimodal.pcmStatsFrame(
        Multimodal.synthesizeG711(ids, "doc_id", n = 240, aLaw = true), "doc_id")
        .withColumn("codec", lit("alaw"))
      u.unionByName(a)
        .select(col("doc_id"), col("codec"), col("sample_rate"),
          col("n_samples"), col("sum_pcm"), col("min_pcm"), col("max_pcm"))
        .orderBy("doc_id", "codec")
    },
      // the G.711 expansion formulas verbatim: μ-law complement/bias/shift,
      // A-law xor-0x55 segment cases — over the same closed-form byte stream
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |i AS (SELECT unnest(generate_series(0, 239)) AS i),
        |b AS (SELECT doc_id, (doc_id * 31 + i * 7) % 256 AS byte FROM d, i),
        |c AS (SELECT doc_id, 255 - byte AS ub, xor(byte, 85) AS ab FROM b),
        |vals AS (
        |  SELECT doc_id, 'ulaw' AS codec,
        |    CASE WHEN ub >= 128
        |      THEN 132 - ((((ub & 15) << 3) + 132) << ((ub & 112) >> 4))
        |      ELSE ((((ub & 15) << 3) + 132) << ((ub & 112) >> 4)) - 132
        |    END AS v
        |  FROM c
        |  UNION ALL
        |  SELECT doc_id, 'alaw',
        |    CASE WHEN (ab & 128) != 0 THEN t ELSE -t END
        |  FROM (SELECT doc_id, ab,
        |      CASE WHEN ((ab & 112) >> 4) = 0 THEN ((ab & 15) << 4) + 8
        |           WHEN ((ab & 112) >> 4) = 1 THEN ((ab & 15) << 4) + 264
        |           ELSE (((ab & 15) << 4) + 264) * (1 << (((ab & 112) >> 4) - 1))
        |      END AS t
        |    FROM c))
        |SELECT doc_id, codec, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(240 AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS sum_pcm,
        |  CAST(min(v) AS BIGINT) AS min_pcm,
        |  CAST(max(v) AS BIGINT) AS max_pcm
        |FROM vals GROUP BY doc_id, codec ORDER BY doc_id, codec""".stripMargin),

    // extension: REAL IMA/DVI ADPCM decode (WAV tag 0x11) — per-block
    // {predictor, step-index} headers + 4-bit nibbles, blocks independent
    // (the 100 TB property), fact-chunk trim; the step-table recurrence
    // replays in SQL as a per-block recursive CTE
    QuerySpec("q_adpcm_decode", { (s, d) =>
      import graft.ext.Multimodal
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 150)
      Multimodal.pcmStatsFrame(
        Multimodal.synthesizeImaAdpcm(ids, "doc_id", nSamples = 97,
          samplesPerBlock = 33), "doc_id")
        .orderBy("doc_id")
    },
      // the published IMA recurrence as a per-block recursive CTE: step-table
      // list literal, nibble from the closed form, clamp to [-32768,32767]
      // and [0,88]; fact-chunk trim = the b*33+j < 97 filter
      """WITH RECURSIVE d AS (SELECT doc_id FROM documents WHERE doc_id < 150),
        |blk AS (SELECT doc_id, unnest(generate_series(0, 2)) AS b FROM d),
        |r AS (
        |  SELECT doc_id, b, 0 AS j,
        |    CAST((doc_id * 13 + b * 101) % 1024 - 512 AS INTEGER) AS pred,
        |    CAST((doc_id + b * 7) % 40 AS INTEGER) AS idx
        |  FROM blk
        |  UNION ALL
        |  SELECT doc_id, b, j + 1,
        |    CAST(GREATEST(-32768, LEAST(32767,
        |      CASE WHEN (nib & 8) != 0 THEN pred - diff ELSE pred + diff END))
        |      AS INTEGER),
        |    CAST(GREATEST(0, LEAST(88, idx +
        |      CASE WHEN (nib & 7) < 4 THEN -1 ELSE 2 * ((nib & 7) - 3) END))
        |      AS INTEGER)
        |  FROM (
        |    SELECT doc_id, b, j, pred, idx, nib,
        |      (s >> 3) + CASE WHEN (nib & 4) != 0 THEN s ELSE 0 END
        |               + CASE WHEN (nib & 2) != 0 THEN s >> 1 ELSE 0 END
        |               + CASE WHEN (nib & 1) != 0 THEN s >> 2 ELSE 0 END AS diff
        |    FROM (
        |      SELECT doc_id, b, j, pred, idx,
        |        CAST((doc_id * 7 + b * 3 + j * 5) % 16 AS INTEGER) AS nib,
        |        ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
        |          50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
        |          230,253,279,307,337,371,408,449,494,544,598,658,724,796,
        |          876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
        |          2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
        |          7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
        |          20350,22385,24623,27086,29794,32767])[idx + 1] AS s
        |      FROM r WHERE j < 32) q1) q2)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(97 AS BIGINT) AS n_samples,
        |  CAST(sum(pred) AS BIGINT) AS sum_pcm,
        |  CAST(min(pred) AS BIGINT) AS min_pcm,
        |  CAST(max(pred) AS BIGINT) AS max_pcm
        |FROM r WHERE b * 33 + j < 97
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // extension: REAL video decode — MJPEG-in-AVI: RIFF container walk +
    // per-frame JDK JPEG decode, PSNR-gated per frame against the known
    // source raster (the q_jpeg_decode lossy-codec discipline)
    QuerySpec("q_mjpeg_decode", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 60)
      MediaContainers.aviFrameCheck(
        MediaContainers.synthesizeAvi(ids, "doc_id", w = 16, h = 12,
          quality = 0.9f),
        "doc_id", w = 16, h = 12, minPsnrDb = 15.0)
        .orderBy("doc_id", "frame_idx")
    },
      // closed-form frame grid (2 + id%4 frames at 24 fps); the PSNR gate is
      // the lossy-codec banded check, same shape as q_jpeg_decode
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |f AS (SELECT doc_id,
        |  unnest(generate_series(0, CAST(1 + doc_id % 4 AS BIGINT))) AS frame_idx
        |  FROM d)
        |SELECT doc_id, frame_idx, CAST(16 AS BIGINT) AS width,
        |  CAST(12 AS BIGINT) AS height, CAST(24.0 AS DOUBLE) AS fps,
        |  true AS psnr_ok
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),

    // extension: spectral audio fingerprint — 64-sample windows, integer
    // Walsh–Hadamard transform (exact; Hadamard signs = popcount parity,
    // so SQL replays it via bit_count), peak band per window, 4-gram
    // shingles (the constellation-hash idea in exact integer math)
    QuerySpec("q_audio_fingerprint", { (s, d) =>
      import graft.ext.Multimodal
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 80)
      val wav = Multimodal.synthesizeWavTones(ids, "doc_id", n = 320,
        sampleRate = 8000)
      Multimodal.audioFingerprint(wav, "doc_id").orderBy("doc_id", "w")
    },
      // full integer replay of the fingerprint pipeline: closed-form PCM,
      // WHT via bit_count parity signs, band energies, peak argmax
      // (energy desc, band asc), 4-gram assembly
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 80),
        |i AS (SELECT unnest(generate_series(0, 319)) AS i),
        |x AS (SELECT doc_id, i,
        |        CAST(CASE WHEN (i // (2 + doc_id % 13)) % 2 = 0
        |          THEN 700 ELSE -700 END
        |          + (i * (doc_id + 3)) % 400 - 200 AS BIGINT) AS xv
        |      FROM d, i),
        |w AS (SELECT unnest(generate_series(0, 8)) AS w),
        |k AS (SELECT unnest(generate_series(0, 63)) AS k),
        |c AS (SELECT doc_id, w, k,
        |        sum(xv * (1 - 2 * (bit_count(j & k) % 2))) AS c
        |      FROM (SELECT x.doc_id, w.w AS w, x.i - w.w * 32 AS j, x.xv
        |            FROM x, w WHERE x.i >= w.w * 32 AND x.i < w.w * 32 + 64), k
        |      GROUP BY doc_id, w, k),
        |e AS (SELECT doc_id, w, k // 8 AS b, sum(abs(c)) AS e
        |      FROM c GROUP BY doc_id, w, k // 8),
        |p AS (SELECT doc_id, w, b AS peak FROM (
        |        SELECT doc_id, w, b,
        |          row_number() OVER (PARTITION BY doc_id, w
        |                             ORDER BY e DESC, b ASC) AS rn
        |        FROM e WHERE b >= 1) q WHERE rn = 1)
        |SELECT p0.doc_id, p0.w,
        |  p0.peak + p1.peak * 8 + p2.peak * 64 + p3.peak * 512 AS gram
        |FROM p p0
        |JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.w = p0.w + 1
        |JOIN p p2 ON p2.doc_id = p0.doc_id AND p2.w = p0.w + 2
        |JOIN p p3 ON p3.doc_id = p0.doc_id AND p3.w = p0.w + 3
        |ORDER BY p0.doc_id, p0.w""".stripMargin),

    // extension: audio near-duplicate pairs — the audio face of the dedup
    // family (text shingles / image dHash): exact Jaccard over df-capped
    // fingerprint gram sets (sizes + intersections in the same capped
    // universe), candidates meet on a shared gram (banded, never
    // all-pairs); id folding (seedMod=40) plants exact dups
    QuerySpec("q_audio_neardup", { (s, d) =>
      import graft.ext.Multimodal
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 80)
      val wav = Multimodal.synthesizeWavTones(ids, "doc_id", n = 320,
        sampleRate = 8000, seedMod = 40)
      Multimodal.audioNearDups(wav, "doc_id", "media", minJaccard = 0.9)
        .orderBy("id_a", "id_b")
    },
      // same fingerprint replay over the FOLDED id space (seed = id % 40),
      // then exact Jaccard over the df-CAPPED distinct-gram sets (sizes and
      // intersections share the capped universe — audioNearDups contract)
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 80),
        |i AS (SELECT unnest(generate_series(0, 319)) AS i),
        |x AS (SELECT doc_id, i,
        |        CAST(CASE WHEN (i // (2 + (doc_id % 40) % 13)) % 2 = 0
        |          THEN 700 ELSE -700 END
        |          + (i * ((doc_id % 40) + 3)) % 400 - 200 AS BIGINT) AS xv
        |      FROM d, i),
        |w AS (SELECT unnest(generate_series(0, 8)) AS w),
        |k AS (SELECT unnest(generate_series(0, 63)) AS k),
        |c AS (SELECT doc_id, w, k,
        |        sum(xv * (1 - 2 * (bit_count(j & k) % 2))) AS c
        |      FROM (SELECT x.doc_id, w.w AS w, x.i - w.w * 32 AS j, x.xv
        |            FROM x, w WHERE x.i >= w.w * 32 AND x.i < w.w * 32 + 64), k
        |      GROUP BY doc_id, w, k),
        |e AS (SELECT doc_id, w, k // 8 AS b, sum(abs(c)) AS e
        |      FROM c GROUP BY doc_id, w, k // 8),
        |p AS (SELECT doc_id, w, b AS peak FROM (
        |        SELECT doc_id, w, b,
        |          row_number() OVER (PARTITION BY doc_id, w
        |                             ORDER BY e DESC, b ASC) AS rn
        |        FROM e WHERE b >= 1) q WHERE rn = 1),
        |g AS (SELECT DISTINCT p0.doc_id AS id,
        |        p0.peak + p1.peak * 8 + p2.peak * 64 + p3.peak * 512 AS gram
        |      FROM p p0
        |      JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.w = p0.w + 1
        |      JOIN p p2 ON p2.doc_id = p0.doc_id AND p2.w = p0.w + 2
        |      JOIN p p3 ON p3.doc_id = p0.doc_id AND p3.w = p0.w + 3),
        |kept AS (SELECT id, gram FROM g WHERE gram IN (
        |        SELECT gram FROM g GROUP BY gram HAVING count(*) <= 10000)),
        |sz AS (SELECT id, count(*) AS n FROM kept GROUP BY id),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |       FROM kept a JOIN kept b ON a.gram = b.gram AND a.id < b.id
        |       GROUP BY a.id, b.id)
        |SELECT id_a, id_b,
        |  round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM pr
        |JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
        |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    // extension: MP4 / ISO-BMFF box-tree parse — ftyp/mvhd/tkhd/mdhd/hdlr/
    // stsd/stts/stsz/stss over a two-track (video+audio) synthesized file;
    // one output row per track (the frame-sampling planner's shape)
    QuerySpec("q_mp4_meta", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 150)
      val packed = MediaContainers.synthesizeMp4(ids, "doc_id")
      MediaContainers.mp4MetaFrame(packed, "doc_id")
        .select(col("doc_id"), col("major_brand"), col("track_id"),
          col("handler"), col("codec"), col("timescale"), col("n_samples"),
          col("sample_bytes"), col("n_keyframes"),
          round(col("duration_ms"), 2).as("duration_ms"),
          col("width"), col("height"))
        .orderBy("doc_id", "track_id")
    },
      // closed-form replay of synthesizeMp4's two tracks: 24 fps video at
      // timescale 90000 (delta 3750, keyframe per second) + AAC-framed audio
      // at 44100 (delta 1024)
      """WITH d AS (SELECT doc_id, 1 + doc_id % 10 AS secs
        |  FROM documents WHERE doc_id < 150)
        |SELECT doc_id, 'isom' AS major_brand, CAST(1 AS BIGINT) AS track_id,
        |  'vide' AS handler, 'avc1' AS codec, CAST(90000 AS BIGINT) AS timescale,
        |  CAST(secs * 24 AS BIGINT) AS n_samples,
        |  CAST((500 + doc_id % 100) * secs * 24 AS BIGINT) AS sample_bytes,
        |  CAST(secs AS BIGINT) AS n_keyframes,
        |  round(secs * 24 * 3750 * 1000.0 / 90000, 2) AS duration_ms,
        |  CAST(320 AS DOUBLE) AS width, CAST(240 AS DOUBLE) AS height
        |FROM d
        |UNION ALL
        |SELECT doc_id, 'isom', CAST(2 AS BIGINT), 'soun', 'mp4a',
        |  CAST(44100 AS BIGINT),
        |  CAST(secs * 43 AS BIGINT),
        |  CAST((200 + doc_id % 50) * secs * 43 AS BIGINT),
        |  CAST(0 AS BIGINT),
        |  round(secs * 43 * 1024 * 1000.0 / 44100, 2),
        |  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
        |FROM d
        |ORDER BY doc_id, track_id""".stripMargin),

    // FLAC decode: real streams per row ([[graft.ext.FlacCodec]] —
    // STREAMINFO walk, framed FIXED/LPC/VERBATIM subframes, Rice
    // residuals, mid/side stereo, CRC-8/16), EXACT-match oracled
    // (lossless codec: sample equality, stronger than PSNR). Legs cycle
    // per id: mono best-FIXED, stereo MID/SIDE, mono LPC, mono VERBATIM.
    QuerySpec("q_flac_decode", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 40)
      graft.ext.Multimodal.flacDecodeFrame(
        graft.ext.Multimodal.synthesizeFlacAudio(ids, "doc_id"), "doc_id")
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(44100 AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 8 >= 4 THEN 32 ELSE 16 END AS BIGINT)
        |    AS bits_per_sample,
        |  CAST(5096 AS BIGINT) AS n_samples,
        |  true AS exact_match,
        |  CASE doc_id % 4 WHEN 1 THEN 'fixed' WHEN 2 THEN 'lpc'
        |    WHEN 3 THEN 'verbatim' ELSE 'fixed' END AS subframes
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin),

    // OGG container walk ([[graft.ext.MediaContainers.parseOgg]]): CRC-32
    // verified pages, lacing reassembly across page boundaries (small
    // pages force continued packets; a multiple-of-255 packet exercises
    // the zero-lacing terminator), BOS codec identification for
    // Vorbis / Opus / FLAC-in-Ogg mapping headers.
    QuerySpec("q_ogg_meta", { (s, d) =>
      val ids = t(s, d)("documents").select(col("doc_id")).where(col("doc_id") < 60)
      graft.ext.MediaContainers.oggMetaFrame(
        graft.ext.MediaContainers.synthesizeOgg(ids, "doc_id"), "doc_id")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  -- 6 lacing segments (7 when the comment packet is 510 bytes),
        |  -- 2 per page: head(1) + comment(2|3) + three data packets(1)
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS BIGINT) AS n_pages,
        |  CAST(5 AS BIGINT) AS n_packets,
        |  CAST(4096 + doc_id AS BIGINT) AS serial,
        |  CAST(2880 AS BIGINT) AS last_granule,
        |  CASE doc_id % 3 WHEN 0 THEN 'vorbis' WHEN 1 THEN 'opus'
        |    ELSE 'flac' END AS codec,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 2 WHEN 1 THEN 2
        |    ELSE 1 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 48000 ELSE 44100 END AS BIGINT)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 312 ELSE 0 END AS BIGINT)
        |    AS pre_skip
        |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin)
  )
}
