package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{Fixtures, Tables}

/** Multimodal-column plumbing: opaque `binary` payload columns with typed
  * metadata, batch-shaped decode/feature-extract over partitions.
  *
  * The image path is REAL: every document gets a small RGB PNG encoded
  * through the JDK codec (`javax.imageio`, no external dependency) into a
  * once-per-corpus blob table, and the decode/feature/resize queries run
  * the actual `ImageIO.read` decode over those bytes. Oracle strategy:
  * the generated pixels are a deterministic integer function of
  * (doc_id, x, y), and PNG is lossless — encode→decode is the identity on
  * pixels — so DuckDB recomputes decoded-pixel statistics from the
  * formula while the engine must run the real codec to reach them. A
  * broken decode (channel order, row/column transposition, truncation)
  * breaks the sums/moments and fails the value compare.
  *
  * Audio runs the same real-codec recipe via `javax.sound.sampled`
  * (RIFF/WAVE encode at ingest, container parse + PCM16 decode in the
  * query — lossless, so the generative-waveform oracle is exact). Only
  * the VIDEO analogue (frame sampling over an opaque byte stream) keeps
  * the deterministic chunk shape — no video codec ships with the JDK —
  * while carrying the mapPartitions batch contract a real one needs.
  */
object Multimodal {

  /** Stand-in media payload: the document text bytes as an opaque blob
    * (in production: image/audio bytes read from object storage). */
  private def blobbed(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(
          octet_length(col("text").cast("binary")).as("n_bytes"),
          lit("text/plain").as("mime"),
          col("lang").as("lang_hint")).as("meta"))

  /** Metadata extraction over binary payloads — fully oracled (byte length,
    * hex prefix, metadata predicates), no decode involved. */
  def meta(spark: SparkSession, dir: String): DataFrame =
    blobbed(spark, dir)
      .filter(col("meta.n_bytes") > 100)
      .select(col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.mime").as("mime"),
        hex(substring(col("payload"), 1, 4)).as("head_hex"))
      .orderBy(col("doc_id"))

  /** Image dimensions for doc `id` — small and varied so resize blocks hit
    * uneven boundaries. Shared by the generator and the oracles. */
  private def dims(id: Long): (Int, Int) =
    ((16 + id % 17).toInt, (16 + id % 13).toInt)

  /** Generative pixel: channel value at (x, y) for doc `id`. Pure integer
    * arithmetic so DuckDB replays it exactly. */
  private def px(id: Long, x: Int, y: Int, a: Long, bx: Long, by: Long): Int =
    ((id * a + x * bx + y * by) % 256).toInt

  /** Once-per-(session, source-dir) PNG blob table — the ingest step a
    * production pipeline runs when media lands in object storage. Each
    * document gets a W×H RGB image (W,H ∈ [16,32], varying per doc) whose
    * pixels follow the deterministic formula above, encoded to real PNG
    * bytes by `javax.imageio` in a partition-parallel pass, materialized
    * as an external parquet table (same pattern as
    * [[graft.ops.Bucketed.q33BucketedJoin]]); queries then read ONLY
    * (doc_id, payload) — opaque bytes, exactly what S3 would hand back.
    * Scale: encode is map-side, one row in flight per task at a time; the
    * blob table shuffles nothing. */
  private def pngTable(spark: SparkSession, dir: String): DataFrame = {
    // fingerprint-keyed (not dir.hashCode): a regenerated corpus in the
    // same dir changes the key, so the blob table rebuilds instead of
    // serving stale media — and distinct dirs can never collide
    val tag = Tables.fingerprint(spark, dir, "documents")
    val tbl = s"graft_png_$tag"
    if (!spark.catalog.tableExists(tbl)) {
      import spark.implicits._
      javax.imageio.ImageIO.setUseCache(false) // in-memory encode, no tmp spool
      val base = Fixtures.dir("graft-png")
      Tables.parallelized(Tables(spark, dir, "documents"))
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val (w, h) = dims(id)
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y,
                  (px(id, x, y, 31, 7, 13) << 16) |
                  (px(id, x, y, 17, 11, 3) << 8) |
                   px(id, x, y, 23, 5, 19))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }.toDF("doc_id", "payload")
        .write.format("parquet").option("path", s"$base/$tbl")
        .mode("overwrite").saveAsTable(tbl)
    }
    spark.table(tbl)
  }

  /** Decoded image + per-pixel access, shared by the image queries. The
    * decode is the genuinely imperative per-row step (a codec can't be a
    * column expression), so it runs in mapPartitions — one image in memory
    * at a time, map-side only, everything around it declarative. */
  private def decodePng(payload: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))

  case class ImgFeatures(doc_id: Long, width: Int, height: Int,
                         sum_r: Long, sum_g: Long, sum_b: Long,
                         xmom_r: Long, ymom_r: Long)

  /** REAL decode → feature extraction: `ImageIO.read` over the PNG bytes,
    * then integer pixel statistics — per-channel sums plus first moments
    * of the red channel (Σ x·r, Σ y·r — these catch row/column
    * transposition and channel-order bugs that plain sums cannot). All
    * arithmetic is integer, so the oracle replays it from the generative
    * formula exactly; a wrong decode fails the value compare. */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pngTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = decodePng(bytes)
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb, xm, ym) = (0L, 0L, 0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = img.getRGB(x, y)
              val r = (v >> 16) & 0xff
              sr += r; sg += (v >> 8) & 0xff; sb += v & 0xff
              xm += x.toLong * r; ym += y.toLong * r
              x += 1
            }
            y += 1
          }
          ImgFeatures(id, w, h, sr, sg, sb, xm, ym)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Decoded-image metadata: the engine must parse the real PNG container
    * (magic sniff for mime, header decode for dimensions). */
  def imageMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pngTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val isPng = bytes.length > 8 &&
            (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'
          val img = decodePng(bytes)
          (id, img.getWidth, img.getHeight, if (isPng) "image/png" else "application/octet-stream")
        }
      }
      .toDF("doc_id", "width", "height", "mime")
      .orderBy(col("doc_id"))
  }

  /** One sampled "frame" of a media payload (STUB: a fixed-stride byte
    * chunk standing in for a decoded video frame / audio window). */
  case class Frame(doc_id: Long, frame_idx: Int, offset: Int, n_bytes: Int,
                   checksum: Long)

  /** STUB frame sampling via mapPartitions — the imperative per-partition
    * batch path a real codec needs (iterator in, iterator out, no
    * driver involvement, memory bounded by one row's payload at a time).
    * Samples every `stride`-th fixed-size chunk of the payload; a video
    * decoder would instead seek keyframes. Column-expression ops can't
    * express per-element imperative decode loops, which is exactly the
    * case where mapPartitions (Scala) / mapInPandas (Python) is the right
    * tool — everything before and after stays declarative. */
  def frameSample(spark: SparkSession, dir: String,
                  frameBytes: Int = 64, stride: Int = 4): DataFrame = {
    import spark.implicits._
    val frames = blobbed(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, payload) =>
          val nChunks = (payload.length + frameBytes - 1) / frameBytes
          (0 until nChunks by stride).iterator.map { chunk =>
            val off = chunk * frameBytes
            val len = math.min(frameBytes, payload.length - off)
            // STUB "decode": FNV-1a over the chunk stands in for the
            // decoded frame tensor; deterministic for the oracle-less test
            var h = 0xcbf29ce484222325L
            var i = off
            while (i < off + len) { h = (h ^ (payload(i) & 0xff)) * 0x100000001b3L; i += 1 }
            Frame(docId, chunk / stride, off, len, h)
          }
        }
      }
    frames.toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** One resized image row: the 8×8 box-filtered red channel, row-major. */
  case class Resized(doc_id: Long, width: Int, height: Int, resized_csv: String)

  /** REAL image resize via mapPartitions — decode the PNG, then area-
    * average (box filter) the red channel down to `target`×`target`:
    * output block (i,j) covers pixel rectangle
    * [⌊iW/T⌋,⌊(i+1)W/T⌋) × [⌊jH/T⌋,⌊(j+1)H/T⌋), value = floor-mean of its
    * pixels — the downsampling kernel production image pipelines apply per
    * channel (shown on one channel to keep the output compact). Integer
    * sum/count floor division throughout, so the DuckDB oracle replays the
    * kernel over the generative pixels exactly; output leaves as CSV ints
    * for the driver's pandas compare. */
  def resize(spark: SparkSession, dir: String, target: Int = 8): DataFrame = {
    import spark.implicits._
    pngTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = decodePng(bytes)
          val (w, h) = (img.getWidth, img.getHeight)
          val vals = for (j <- 0 until target; i <- 0 until target) yield {
            val xs = i * w / target; val xe = (i + 1) * w / target
            val ys = j * h / target; val ye = (j + 1) * h / target
            var sum = 0L
            var y = ys
            while (y < ye) {
              var x = xs
              while (x < xe) { sum += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
              y += 1
            }
            (sum / ((xe - xs).toLong * (ye - ys))).toString
          }
          Resized(id, w, h, vals.mkString(","))
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Sample count for doc `id`'s audio clip — varied so window math hits
    * uneven tails. Mono PCM16 at 8 kHz. */
  private def nSamples(id: Long): Int = (800 + (id % 7) * 100).toInt

  /** Generative PCM16 sample: integer sawtooth mix (period varies per
    * doc), DuckDB-replayable exactly. Range [−1024, 1023]. */
  private def pcm(id: Long, i: Int): Int =
    (((id * 131 + i.toLong * (37 + id % 7)) % 2048) - 1024).toInt

  /** Once-per-(session, source-dir) WAV blob table — the audio twin of
    * [[pngTable]]: each document gets a real RIFF/WAVE container (mono
    * 16-bit little-endian PCM, 8 kHz) written by `javax.sound.sampled`
    * in a partition-parallel pass and materialized as an external
    * parquet table. Queries read only (doc_id, payload) opaque bytes. */
  private def wavTable(spark: SparkSession, dir: String): DataFrame = {
    val tag = Tables.fingerprint(spark, dir, "documents") // see pngTable
    val tbl = s"graft_wav_$tag"
    if (!spark.catalog.tableExists(tbl)) {
      import spark.implicits._
      val base = Fixtures.dir("graft-wav")
      Tables.parallelized(Tables(spark, dir, "documents"))
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          ids.map { id =>
            val n = nSamples(id)
            val raw = new Array[Byte](n * 2)
            var i = 0
            while (i < n) {
              val s = pcm(id, i)
              raw(2 * i) = (s & 0xff).toByte
              raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(raw), fmt, n.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            (id, bos.toByteArray)
          }
        }.toDF("doc_id", "payload")
        .write.format("parquet").option("path", s"$base/$tbl")
        .mode("overwrite").saveAsTable(tbl)
    }
    spark.table(tbl)
  }

  case class AudioFeatures(doc_id: Long, sample_rate: Int, n_samples: Long,
                           peak_abs: Int, sum_sq: Long, zero_crossings: Long)

  /** REAL audio decode → signal features: `AudioSystem.getAudioInputStream`
    * parses the RIFF container (a wrong header parse surfaces as a wrong
    * sample_rate/n_samples), the PCM16 frames are re-assembled
    * little-endian, and the features are pure-integer signal stats —
    * peak amplitude, energy (Σs², exact in a long), zero-crossing count
    * (the cheap voiced/unvoiced heuristic). The oracle replays the
    * generative waveform; PCM16 is lossless, so decode(encode(x)) == x
    * and a broken codec path fails the value compare. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wavTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
            fmt.getChannels == 1, s"unexpected decoded format: $fmt")
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          var (peak, sumSq, zc) = (0, 0L, 0L)
          var prevNeg = false
          var i = 0
          while (i < n) {
            val s = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            if (a > peak) peak = a
            sumSq += s.toLong * s
            val neg = s < 0
            if (i > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            i += 1
          }
          AudioFeatures(id, fmt.getSampleRate.toInt, n, peak, sumSq, zc)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_audio_features" -> ((s, d) => audioFeatures(s, d)),
    "mm_resize" -> ((s, d) => resize(s, d)),
    "mm_meta" -> meta,
    "mm_img_meta" -> imageMeta,
    "mm_decode_features" -> decodeFeatures,
    "mm_frame_sample" -> ((s, d) => frameSample(s, d))
  )

  val oracles: Map[String, String] = Map(
    // PCM16 is lossless: decoded samples == the generative sawtooth, so
    // peak / energy / zero-crossings replay exactly in integers
    "mm_audio_features" ->
      """WITH d AS (SELECT doc_id, 800 + (doc_id % 7) * 100 AS n FROM documents),
        |s AS (SELECT d.doc_id, i,
        |        ((d.doc_id * 131 + i * (37 + d.doc_id % 7)) % 2048) - 1024 AS v
        |      FROM d, unnest(generate_series(0, CAST(d.n AS INTEGER) - 1)) AS t(i)),
        |z AS (SELECT doc_id, i, v,
        |        CASE WHEN i > 0 AND (v < 0) <>
        |          (lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0)
        |          THEN 1 ELSE 0 END AS flip
        |      FROM s)
        |SELECT doc_id, 8000 AS sample_rate,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(max(abs(v)) AS INTEGER) AS peak_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(flip) AS BIGINT) AS zero_crossings
        |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 2-D box filter replayed over the generative pixels (PNG is lossless,
    // so decoded pixels == the formula; `//` is floor division)
    "mm_resize" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
        |           FROM documents),
        |blk AS (SELECT d.doc_id, d.w, d.h, i, j,
        |          (i * d.w) // 8 AS xs, ((i + 1) * d.w) // 8 AS xe,
        |          (j * d.h) // 8 AS ys, ((j + 1) * d.h) // 8 AS ye
        |        FROM d, generate_series(0, 7) AS ti(i), generate_series(0, 7) AS tj(j)),
        |pxv AS (SELECT blk.doc_id, blk.w, blk.h, blk.i, blk.j,
        |          (blk.doc_id * 31 + x * 7 + y * 13) % 256 AS r
        |        FROM blk,
        |          unnest(generate_series(blk.xs, blk.xe - 1)) AS tx(x),
        |          unnest(generate_series(blk.ys, blk.ye - 1)) AS ty(y)),
        |v AS (SELECT doc_id, max(w) AS w, max(h) AS h, j, i,
        |        CAST(sum(r) AS BIGINT) // count(*) AS pix
        |      FROM pxv GROUP BY doc_id, j, i)
        |SELECT doc_id, CAST(max(w) AS INTEGER) AS width,
        |  CAST(max(h) AS INTEGER) AS height,
        |  string_agg(CAST(pix AS VARCHAR), ',' ORDER BY j, i) AS resized_csv
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replays the mapPartitions stride/chunk walk and the FNV-1a checksum
    // in SQL (HUGEINT mod-2^64; the 8-bit xor folds through BIGINT xor on
    // the low byte) — ASCII corpus, so string index == byte offset
    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS L FROM documents),
        |f AS (
        |  SELECT doc_id, c AS chunk, (c*64) AS off, LEAST(64, L - c*64) AS n_bytes, text
        |  FROM d, unnest(generate_series(0, CAST(ceil(L/64.0) AS INTEGER) - 1, 4)) AS t(c)),
        |chk AS (
        |  SELECT doc_id, chunk // 4 AS frame_idx, off, n_bytes,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(off + 1, off + n_bytes + 1),
        |          i -> CAST(unicode(text[i]) AS HUGEINT))),
        |      (acc, b) -> (((acc - acc % 256) + CAST(xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |    ) AS m
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(off AS INTEGER) AS "offset", CAST(n_bytes AS INTEGER) AS n_bytes,
        |  CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
        |            THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS checksum
        |FROM chk ORDER BY doc_id, frame_idx""".stripMargin,
    // decoded-pixel statistics replayed from the generative formula: sums
    // catch value corruption, the x/y first moments of the red channel
    // catch row/column transposition and channel-order bugs
    "mm_decode_features" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, x, y,
        |         (d.doc_id * 31 + x * 7 + y * 13) % 256 AS r,
        |         (d.doc_id * 17 + x * 11 + y * 3) % 256 AS g,
        |         (d.doc_id * 23 + x * 5 + y * 19) % 256 AS b
        |       FROM d,
        |         unnest(generate_series(0, d.w - 1)) AS tx(x),
        |         unnest(generate_series(0, d.h - 1)) AS ty(y))
        |SELECT doc_id, CAST(max(w) AS INTEGER) AS width,
        |  CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(sum(x * r) AS BIGINT) AS xmom_r,
        |  CAST(sum(y * r) AS BIGINT) AS ymom_r
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_img_meta" ->
      """SELECT doc_id, CAST(16 + doc_id % 17 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 13 AS INTEGER) AS height, 'image/png' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  'text/plain' AS mime,
        |  hex(encode(substring(text, 1, 4))) AS head_hex
        |FROM documents WHERE octet_length(encode(text)) > 100
        |ORDER BY doc_id""".stripMargin
  )
}
