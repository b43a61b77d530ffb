package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document decoded-image features from the real `javax.imageio` codec:
  * geometry, band count, integer pixel-sum (oracle-checkable), and an md5
  * over the row-major RGB bytes (digest-pinned in the spec).
  */
case class ImageFeatures(doc_id: Long, width: Int, height: Int,
                         channels: Int, pix_sum: Long, pix_md5: String)

/** Opaque-binary ("multimodal") column plumbing: typed metadata over
  * image/audio/video payload columns, plus a REAL image codec path.
  *
  * The harness tables carry no media, so the scenarios materialize payloads
  * per document two ways: a text payload with a sniffable magic header (for
  * the metadata/frame plumbing), and a genuine PNG image whose pixels are a
  * deterministic function of `doc_id` (for the decode/resize path). The
  * decode and resize operators run the actual `javax.imageio` PNG codec
  * (public JDK API) inside batched `mapPartitions` — no stubs. Because the
  * pixel generator is pure integer arithmetic and PNG is lossless, the
  * decoded pixel sums are recomputable in plain SQL, so even the codec path
  * is oracle-gated, and the spec pins the full RGB digest.
  *
  * Scale: payloads never leave the executor (no collect); metadata extraction
  * is a narrow projection; decode is `mapPartitions` with fixed-size batches,
  * the same shape a vectorized decoder (or `mapInPandas` in PySpark) would
  * use — decode cost parallelizes per-partition with zero shuffle.
  */
object Multimodal extends graft.GateModule {

  /** Documents extended with a binary `payload` column. */
  def withPayload(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("magic", expr(
        "element_at(array('PNG!', 'JPG!', 'WAV!'), cast(doc_id % 3 as int) + 1)"))
      .withColumn("payload", concat(col("magic"), col("text")).cast("binary"))

  /** Metadata extraction: sniff the container from the magic bytes, record
    * byte size and content digest. Pure column expressions over the binary
    * payload — codegen'd, no UDF.
    */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    withPayload(s, dir)
      .withColumn("sniff", expr("decode(substring(payload, 1, 4), 'UTF-8')"))
      .select(
        col("doc_id"),
        when(col("sniff") === "PNG!", "image/png")
          .when(col("sniff") === "JPG!", "image/jpeg")
          .when(col("sniff") === "WAV!", "audio/wav")
          .otherwise("unknown").as("media_kind"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"))
      .orderBy("doc_id")

  /** DuckDB cannot slice blobs, so the oracle mirrors the byte semantics on
    * the varchar form: the payload is ASCII magic + UTF-8 text, and
    * md5(varchar) hashes the same UTF-8 bytes Spark's md5(binary) sees.
    */
  val multimodalMetaSql: String = """
    WITH p AS (
      SELECT doc_id,
        ['PNG!', 'JPG!', 'WAV!'][CAST(doc_id % 3 AS INT) + 1] || text AS s
      FROM documents)
    SELECT doc_id,
      CASE substring(s, 1, 4)
        WHEN 'PNG!' THEN 'image/png'
        WHEN 'JPG!' THEN 'image/jpeg'
        WHEN 'WAV!' THEN 'audio/wav'
        ELSE 'unknown' END AS media_kind,
      octet_length(encode(s)) AS n_bytes,
      md5(s) AS digest
    FROM p ORDER BY doc_id"""

  /** Synthetic image geometry. Small on purpose: the gate exercises the
    * codec and the plumbing, not raw pixel throughput.
    */
  val ImgW = 24
  val ImgH = 16

  /** Deterministic RGB generator: pure integer arithmetic in (doc_id, x, y)
    * so an SQL oracle can recompute any pixel statistic without a codec.
    *
    * The per-channel offset mixes the id's SECOND and THIRD bytes
    * (`id/256`, `id/65536` — integer division, SQL-replayable as `//`)
    * alongside the low byte: a low-byte-only offset (`id * k % 256`, the
    * pre-r17 form) collapses the image universe to 256 distinct images
    * for ANY corpus, so duplicate groups grow ~n/256 and verified pair
    * counts grow Θ(n²/256) — a clique shape no real corpus has, and the
    * reason the mm-family 100× probe cells were unmeasurable through
    * r16. With three mixed bytes, two ids share an image only when they
    * agree mod 2^24 (the three channel offsets use coprime-to-256
    * multipliers, so each byte must match), i.e. distinct-image count
    * scales with the corpus and near-dup pair volume stays ~linear —
    * plants (byte-copies under id + [[PlantShift]]) remain the
    * deliberate duplicates.
    */
  @inline private def pixR(id: Long, x: Int, y: Int): Int =
    ((id * 31 + (id / 256) * 97 + (id / 65536) * 193 + x * 7 + y * 13) % 256).toInt
  @inline private def pixG(id: Long, x: Int, y: Int): Int =
    ((id * 17 + (id / 256) * 59 + (id / 65536) * 151 + x * 11 + y * 3) % 256).toInt
  @inline private def pixB(id: Long, x: Int, y: Int): Int =
    ((id * 5 + (id / 256) * 41 + (id / 65536) * 229 + x * 13 + y * 29) % 256).toInt

  /** The image RE-CRAWL family: every [[ReImMod]]-th document (residue
    * [[ReImRes]]) carries the SAME image as the document [[ReImDelta]]
    * ids earlier — the mirrored-thumbnail/re-crawl duplicate structure a
    * real corpus has and the decorrelated generator would otherwise
    * remove entirely. The delta is chosen so the source sits in the
    * OTHER incremental partition (9 % 5 = 4 is the batch residue; 5 % 5
    * = 0 is base), so cross-batch image duplicates — the
    * existing-corpus-wins path of the incremental mm pipeline — exist by
    * construction at a linear ~n/[[ReImMod]] rate at every corpus scale.
    */
  private[graft] val ReImMod = 10L
  private[graft] val ReImRes = 9L
  private[graft] val ReImDelta = 4L

  /** The id whose pixels document `id` displays (the re-crawl source). */
  private[graft] def genOf(id: Long): Long =
    if (id % ReImMod == ReImRes) id - ReImDelta else id

  /** [[genOf]] as a DuckDB expression. */
  private[operators] def genSqlOf(id: String): String =
    s"CASE WHEN $id % $ReImMod = $ReImRes THEN $id - $ReImDelta ELSE $id END"

  /** The three-channel luma sum as a DuckDB expression over an id column
    * and x/y coordinate expressions — ONE definition for every oracle
    * replay of the pixel generator (decode, resize at strided
    * coordinates, the phash CTEs), so the Scala generator and its SQL
    * twins cannot drift.
    */
  private[operators] def lumSql(id: String, x: String, y: String): String =
    s"""($id * 31 + ($id // 256) * 97 + ($id // 65536) * 193 + $x * 7 + $y * 13) % 256
             + ($id * 17 + ($id // 256) * 59 + ($id // 65536) * 151 + $x * 11 + $y * 3) % 256
             + ($id * 5 + ($id // 256) * 41 + ($id // 65536) * 229 + $x * 13 + $y * 29) % 256"""

  /** Row-major RGB bytes of DOCUMENT `id`'s image (re-crawl resolution
    * via [[genOf]] applied here, so every JVM-local expectation keys on
    * the document id) — the decode spec pins the decoded digest against
    * md5 of exactly this sequence.
    */
  def rgbBytes(id: Long): Array[Byte] = {
    val gen = genOf(id)
    val out = new Array[Byte](ImgW * ImgH * 3)
    var i = 0
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < ImgW) {
        out(i) = pixR(gen, x, y).toByte; out(i + 1) = pixG(gen, x, y).toByte
        out(i + 2) = pixB(gen, x, y).toByte; i += 3; x += 1
      }
      y += 1
    }
    out
  }

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  /** Documents with a REAL PNG payload: each document's pixels come from the
    * deterministic generator above, encoded with the JDK's `javax.imageio`
    * PNG writer on the executors (distributed; payload bytes never visit the
    * driver). PNG is lossless, so decode ∘ encode = identity on the pixels.
    */
  def withImagePayload(s: SparkSession, dir: String): DataFrame =
    // memoized: the decode and resize gates share one PNG generation pass
    // (in production the payloads are a stored binary column, not derived)
    graft.Memo.cachedLeaf(s, "mm_image_payload", dir)(genImagePayload(s, dir))

  private def genImagePayload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val gen = genOf(id)
          val img = new java.awt.image.BufferedImage(
            ImgW, ImgH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < ImgH) {
            var x = 0
            while (x < ImgW) {
              img.setRGB(x, y,
                (pixR(gen, x, y) << 16) | (pixG(gen, x, y) << 8) | pixB(gen, x, y))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** REAL image decode: `javax.imageio.ImageIO.read` (the JDK PNG/JPEG/BMP/
    * GIF codec) inside batched `mapPartitions` — binary column in, typed
    * feature Dataset out. Emits geometry, band count, the integer pixel sum
    * (recomputed by the SQL oracle from the generator arithmetic — PNG is
    * lossless, so a single flipped pixel fails the gate) and the md5 of the
    * row-major RGB bytes (pinned by the spec against [[rgbBytes]]).
    */
  def decodeImages(s: SparkSession, dir: String,
                   batchSize: Int = 64): Dataset[ImageFeatures] = {
    import s.implicits._
    withImagePayload(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap { batch =>
          // <- a vectorized decoder would hand `batch` to the codec in one call
          batch.iterator.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            val (w, h) = (img.getWidth, img.getHeight)
            val rgb = new Array[Byte](w * h * 3)
            var sum = 0L
            var i = 0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                val (r, g, b) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
                rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
                sum += r + g + b; i += 3; x += 1
              }
              y += 1
            }
            ImageFeatures(id, w, h, img.getRaster.getNumBands, sum, md5hex(rgb))
          }
        }
      }
  }

  /** Oracle for the decoded pixel sum: DuckDB re-derives every pixel from
    * the generator arithmetic (no codec needed) and must agree with what
    * `javax.imageio` decoded from the PNG bytes.
    */
  val decodeSql: String = s"""
    SELECT d.doc_id,
      CAST($ImgW AS INT) AS width, CAST($ImgH AS INT) AS height,
      CAST(3 AS INT) AS channels,
      CAST(SUM(${lumSql("d.gen_id", "x.i", "y.i")}) AS BIGINT) AS pix_sum
    FROM (SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents) d
    CROSS JOIN generate_series(0, ${ImgW - 1}) AS x(i)
    CROSS JOIN generate_series(0, ${ImgH - 1}) AS y(i)
    GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** REAL image resize: decode the PNG with `javax.imageio`, nearest-
    * neighbour downsample by `stride` (deterministic — no interpolation, so
    * output pixel (x,y) = input pixel (stride·x, stride·y) exactly), and
    * re-encode to PNG. Runs through the same batched `mapPartitions` as the
    * decoder. Emits the resized geometry, the resized pixel sum (oracle
    * recomputes it from the generator at stride'd coordinates) and the byte
    * count of the re-encoded PNG.
    */
  def resizeImages(s: SparkSession, dir: String, stride: Int = 2,
                   batchSize: Int = 64): DataFrame = {
    import s.implicits._
    withImagePayload(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.grouped(batchSize).flatMap { batch =>
          // <- a vectorized resize kernel would process `batch` in one call
          batch.iterator.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            val (ow, oh) = (img.getWidth / stride, img.getHeight / stride)
            val out = new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var sum = 0L
            var y = 0
            while (y < oh) {
              var x = 0
              while (x < ow) {
                val p = img.getRGB(x * stride, y * stride)
                out.setRGB(x, y, p)
                sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            (id, ow, oh, sum, bos.size().toLong)
          }
        }
      }
      .toDF("doc_id", "out_w", "out_h", "out_pix_sum", "out_png_bytes")
      .select(col("doc_id"), col("out_w"), col("out_h"), col("out_pix_sum"))
      .orderBy("doc_id")
  }

  val resizeSql: String = s"""
    SELECT d.doc_id,
      CAST(${ImgW / 2} AS INT) AS out_w, CAST(${ImgH / 2} AS INT) AS out_h,
      CAST(SUM(${lumSql("d.gen_id", "x.i * 2", "y.i * 2")}) AS BIGINT)
        AS out_pix_sum
    FROM (SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents) d
    CROSS JOIN generate_series(0, ${ImgW / 2 - 1}) AS x(i)
    CROSS JOIN generate_series(0, ${ImgH / 2 - 1}) AS y(i)
    GROUP BY d.doc_id ORDER BY d.doc_id"""

  // ------------------------------------------------------------ audio (WAV)

  /** The WAV codec SPI providers, resolved ONCE per JVM.
    *
    * Every `AudioSystem.write` / `AudioSystem.getAudioInputStream` call
    * re-enumerates the sound SPI registry through
    * `com.sun.media.sound.JDK13Services.getProviders` — a GLOBAL
    * `synchronized static` that re-runs `ServiceLoader` on each call.
    * At one facade call per row, 32 executor threads serialize on that
    * one lock: measured on the 100× probe corpus, the whole codec stage
    * ran at ~1 core (thread dumps showed every worker parked in
    * `JDK13Services.getProviders`) — the "codec constant" the earlier
    * probe rows adjudicated was mostly this lock, not codec work.
    *
    * Fix: resolve the same SPI providers once through the PUBLIC
    * `java.util.ServiceLoader` (same classes `AudioSystem` dispatches
    * to — `com.sun.media.sound.WaveFileReader` / `WaveFileWriter`, same
    * bytes) and replicate the facade's provider-iteration semantics:
    * writers that don't support the type/format throw
    * `IllegalArgumentException` and the next is tried; readers that
    * can't parse the container throw `UnsupportedAudioFileException`.
    * The provider instances are stateless and safe for concurrent use.
    * On a cluster this initializes once per executor JVM.
    */
  private[operators] object WavCodec {
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
    import scala.jdk.CollectionConverters._

    private lazy val readers: List[AudioFileReader] =
      java.util.ServiceLoader.load(classOf[AudioFileReader])
        .iterator().asScala.toList
    private lazy val writers: List[AudioFileWriter] =
      java.util.ServiceLoader.load(classOf[AudioFileWriter])
        .iterator().asScala.toList

    /** The reader that last parsed a container successfully, tried first
      * on the next read. Without this, every read walks the provider list
      * in registration order — and `SoftMidiAudioFileReader` (registered
      * BEFORE the WAV reader) probes the stream through
      * `MidiSystem.getSequence`, whose provider lookup re-enters the same
      * global `JDK13Services` lock per call (measured: 31 of 32 executor
      * threads parked there once the facade lock itself was gone). A
      * benign race: two threads may both set it — either value is a
      * working reader. Volatile, not synchronized: reads must not
      * serialize on exactly the lock this object exists to remove.
      */
    @volatile private var preferred: AudioFileReader = null

    /** `AudioSystem.getAudioInputStream` minus the per-call registry
      * scan; a fresh ByteArrayInputStream per attempt stands in for the
      * facade's mark/reset discipline.
      */
    def read(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      val pref = preferred
      if (pref != null) {
        try return pref.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      val it = readers.iterator
      while (it.hasNext) {
        val r = it.next()
        if (r ne pref) {
          try {
            val ais = r.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            preferred = r
            return ais
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          }
        }
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "Stream of unsupported format")
    }

    /** `AudioSystem.write(ais, WAVE, out)` minus the per-call registry
      * scan.
      */
    def write(ais: javax.sound.sampled.AudioInputStream,
              out: java.io.OutputStream): Int = {
      val tpe = javax.sound.sampled.AudioFileFormat.Type.WAVE
      val it = writers.iterator
      while (it.hasNext) {
        val w = it.next()
        if (w.isFileTypeSupported(tpe, ais)) return w.write(ais, tpe, out)
      }
      throw new IllegalArgumentException(
        "could not write audio file: file type not supported: " + tpe)
    }
  }

  /** Synthetic audio geometry: 16-bit mono PCM. */
  val AudRate = 8000f
  val AudSamples = 256

  /** Deterministic 16-bit sample generator — pure integer arithmetic in
    * (doc_id, i), SQL-recomputable like the image pixels. Mixes the id's
    * THIRD byte (`id/65536`) alongside the low two the `id * 7` term
    * reaches, for the same reason the pixel generator does: a 16-bit-only
    * offset collapses the clip universe to 65536 distinct waveforms at
    * any corpus size, flattening the 100× dedup probe; with the mixed
    * byte, distinct-clip count scales with the corpus and only plants
    * duplicate deliberately.
    */
  /** The clip's per-sample generator: a Weyl-style SQUARE mix of a
    * per-(id, i) linear ramp, reduced through TWO coprime primes.
    *
    * Why this shape (each simpler form failed a measured 100× probe):
    * a linear ramp (`c_id + 13·i`) makes every clip a SHIFT of one
    * master waveform — the near-dup graph is a clique; an id-derived
    * stride still leaves a smooth 2-parameter family whose window
    * energies correlate (measured 387 k spurious hamming-≤3 pairs at
    * 10×); a single `v² mod p` reduction makes the clip a function of
    * `v0 mod p` ONLY, so the clip universe caps at p ≈ 2^20 and
    * birthday collisions produce ~0.5 M accidental EXACT duplicates at
    * 100×. Squaring v under two coprime primes and mixing middle bits
    * makes clip equality require v0 congruence mod p1·p2 ≈ 2^40 —
    * distinct-clip count scales with any realistic corpus, samples are
    * white-noise-like (energy fingerprints decorrelate: the 100×
    * verified-pair census equals EXACTLY the planted + re-crawl count),
    * and every intermediate stays below 2^52, so the arithmetic is
    * replayable in 64-bit SQL without overflow divergence.
    */
  @inline private[operators] def sampleAt(id: Long, i: Int): Int = {
    val v = (id % 1048576) * 31 + (id / 1048576) * 97 + i * 131L
    val a = (v * v) % 1048573
    val b = (v * v) % 1048571
    ((a * a / 1024 + b * b / 2048) % 65536 - 32768).toInt
  }

  /** The sample expression as DuckDB SQL over an id column and a sample
    * index expression — ONE definition for every oracle replay (decode,
    * resample at strided indices, the audio fingerprint CTEs), the
    * exact integer twin of [[sampleAt]].
    */
  private[operators] def sampleSql(id: String, i: String): String = {
    val v = s"(($id % 1048576) * 31 + ($id // 1048576) * 97 + $i * 131)"
    s"""((($v * $v) % 1048573) * (($v * $v) % 1048573) // 1024
          + (($v * $v) % 1048571) * (($v * $v) % 1048571) // 2048)
          % 65536 - 32768"""
  }

  /** Documents with a REAL WAV payload: the generated PCM samples encoded
    * through the JDK's `javax.sound.sampled` WAV writer on the executors.
    * PCM in a WAV container is lossless, so decode ∘ encode = identity on
    * the samples.
    */
  def withAudioPayload(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "mm_audio_payload", dir) {
      import s.implicits._
      Tables.documents(s, dir).select("doc_id").as[Long]
        .mapPartitions { it =>
          it.map { id =>
            // the re-crawl family covers audio too: doc id%10==9 ships
            // the SAME clip as doc id-4 (see genOf) — cross-partition
            // duplicate clips exist by construction at a linear rate
            val gen = genOf(id)
            val pcm = new Array[Byte](AudSamples * 2)
            var i = 0
            while (i < AudSamples) {
              val v = sampleAt(gen, i)
              pcm(2 * i) = (v & 0xff).toByte         // little-endian
              pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
              i += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(AudRate, 16, 1,
              true, false)
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, AudSamples.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            WavCodec.write(ais, bos)
            (id, bos.toByteArray)
          }
        }
        .toDF("doc_id", "payload")
    }

  /** REAL audio decode: `javax.sound.sampled.AudioSystem` parses the WAV
    * container and hands back format + PCM frames, inside the same batched
    * `mapPartitions` shape as the image decoder. Emits the container
    * metadata and the exact integer sample sum (recomputed by the SQL
    * oracle from the generator arithmetic) plus an md5 over the PCM bytes
    * (spec-pinned).
    */
  def decodeAudio(s: SparkSession, dir: String,
                  batchSize: Int = 64): DataFrame =
    // memoized: the decoded frame is 7 narrow columns per doc, but the
    // codec pass behind it was re-paid by every consumer (the solo
    // decode gate, both accounting gates, the composed audio pipeline)
    graft.Memo.cachedLeaf(s, "audio_decoded", dir)(
      decodeAudioUncached(s, dir, batchSize))

  /** Spec accessors for the codec paths, bypassing the memo so the
    * equality spec compares genuinely independent builds.
    */
  private[graft] def decodeAudioUncachedForSpec(s: SparkSession,
                                                dir: String): DataFrame =
    decodeAudioUncached(s, dir, 64)
  private[graft] def resampleAudioUncachedForSpec(s: SparkSession,
                                                  dir: String): DataFrame =
    resampleAudioUncached(s, dir, 64)

  private def decodeAudioUncached(s: SparkSession, dir: String,
                                  batchSize: Int): DataFrame = {
    import s.implicits._
    withAudioPayload(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // <- a vectorized audio decoder would take `batch` in one call
          batch.iterator.map { case (id, bytes) =>
            val ais = WavCodec.read(bytes)
            val fmt = ais.getFormat
            val pcm = ais.readAllBytes()
            var sum = 0L
            var i = 0
            while (i + 1 < pcm.length) {
              sum += ((pcm(i) & 0xff) | (pcm(i + 1).toInt << 8)).toShort
              i += 2
            }
            (id, fmt.getSampleRate.toInt, fmt.getChannels,
              fmt.getSampleSizeInBits, pcm.length / 2, sum, md5hex(pcm))
          }
        }
      }
      .toDF("doc_id", "rate", "channels", "bits", "n_samples",
        "sample_sum", "pcm_md5")
  }

  /** JVM-local expected PCM bytes (little-endian) of DOCUMENT `id`'s
    * clip ([[genOf]] applied here, like [[rgbBytes]]), for the spec's
    * digest pin.
    */
  def pcmBytes(id: Long): Array[Byte] = {
    val gen = genOf(id)
    val pcm = new Array[Byte](AudSamples * 2)
    var i = 0
    while (i < AudSamples) {
      val v = sampleAt(gen, i)
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    pcm
  }

  val decodeAudioSql: String = s"""
    SELECT d.doc_id,
      CAST(${AudRate.toInt} AS INT) AS rate, CAST(1 AS INT) AS channels,
      CAST(16 AS INT) AS bits, CAST($AudSamples AS INT) AS n_samples,
      CAST(SUM(${sampleSql("d.gen_id", "i.i")}) AS BIGINT)
        AS sample_sum
    FROM (SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents) d
    CROSS JOIN generate_series(0, ${AudSamples - 1}) AS i(i)
    GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** REAL audio resample: decode the WAV, drop every other sample
    * (deterministic decimation — no interpolation filter, so output sample
    * i = input sample 2i exactly), re-encode at half the rate through the
    * same JDK writer. The decimated sample sum is oracle-recomputed from
    * the generator at even indices.
    */
  def resampleAudio(s: SparkSession, dir: String,
                    batchSize: Int = 64): DataFrame =
    // memoized like decodeAudio — same multi-consumer codec pass
    graft.Memo.cachedLeaf(s, "audio_resampled", dir)(
      resampleAudioUncached(s, dir, batchSize))

  private def resampleAudioUncached(s: SparkSession, dir: String,
                                    batchSize: Int): DataFrame = {
    import s.implicits._
    withAudioPayload(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val ais = WavCodec.read(bytes)
            val pcm = ais.readAllBytes()
            val n = pcm.length / 2
            val out = new Array[Byte]((n + 1) / 2 * 2)
            var sum = 0L
            var i = 0
            while (2 * i < n) {
              val lo = pcm(4 * i); val hi = pcm(4 * i + 1)
              out(2 * i) = lo; out(2 * i + 1) = hi
              sum += ((lo & 0xff) | (hi.toInt << 8)).toShort
              i += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(AudRate / 2, 16, 1,
              true, false)
            val ais2 = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(out), fmt, (out.length / 2).toLong)
            val bos = new java.io.ByteArrayOutputStream()
            WavCodec.write(ais2, bos)
            (id, out.length / 2, (AudRate / 2).toInt, sum)
          }
        }
      }
      .toDF("doc_id", "out_samples", "out_rate", "out_sample_sum")
      .orderBy("doc_id")
  }

  val resampleAudioSql: String = s"""
    SELECT d.doc_id,
      CAST(${AudSamples / 2} AS INT) AS out_samples,
      CAST(${AudRate.toInt / 2} AS INT) AS out_rate,
      CAST(SUM(${sampleSql("d.gen_id", "i.i * 2")}) AS BIGINT)
        AS out_sample_sum
    FROM (SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents) d
    CROSS JOIN generate_series(0, ${AudSamples / 2 - 1}) AS i(i)
    GROUP BY d.doc_id ORDER BY d.doc_id"""

  private val FrameBytes = 16
  private val FrameEvery = 4

  /** Frame sampling for framed media ("video"): split the payload into
    * fixed-size frames, keep every `FrameEvery`-th — entirely as column
    * expressions (sequence → transform → posexplode), no UDF, so the frame
    * slicing runs codegen'd and a real decoder only ever sees the sampled
    * frames. The sampled fraction is the standard cost knob of video
    * pipelines: the scan reads every byte, but decode cost (the expensive
    * stage at 100 TB) drops by the sampling factor.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    withPayload(s, dir)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
                sequence(0, cast((length(payload) + ${FrameBytes - 1}) div $FrameBytes as int) - 1),
                i -> substring(payload, i * $FrameBytes + 1, $FrameBytes))"""))
          .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % FrameEvery === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  val frameSampleSql: String = s"""
    WITH p AS (
      SELECT doc_id,
        ['PNG!', 'JPG!', 'WAV!'][CAST(doc_id % 3 AS INT) + 1] || text AS s
      FROM documents),
    f AS (
      SELECT doc_id, i AS frame_idx,
        s[i * $FrameBytes + 1 : i * $FrameBytes + $FrameBytes] AS frame
      FROM p, UNNEST(generate_series(0,
        (length(s) + ${FrameBytes - 1}) // $FrameBytes - 1)) AS u(i))
    SELECT doc_id, frame_idx, CAST(length(frame) AS BIGINT) AS frame_len,
      md5(frame) AS frame_md5
    FROM f WHERE frame_idx % $FrameEvery = 0
    ORDER BY doc_id, frame_idx"""

  // ------------------------------------------------------- perceptual hash

  /** The planted-duplicate id shift shared by the WHOLE plant family:
    * the phash store's byte-copy plants here, [[Pipeline.gopherFrame]]'s
    * verdict-augmentation modulus, and both composed pipelines' arriving
    * feeds. The copies-share-verdicts and dies-to-source invariants
    * require every site to agree on ONE value — this single definition
    * ties them at compile time instead of at gate runtime (advice
    * finding, r15).
    */
  private[graft] val PlantShift = 100000L

  /** Image-plant modulus: every [[PlantMod]]-th doc gets a
    * pixel-identical planted copy under id + [[PlantShift]].
    */
  private[graft] val PlantMod = 9

  /** Average-hash (aHash) image near-dup detection over the REAL decode
    * path: each PNG is decoded with `javax.imageio`, its 24×16 pixels
    * reduced to an 8×8 grid of exact 3×2-block luma sums, and bit k set
    * iff `blockSum·64 > totalSum` (strict integer compare — no float, no
    * mean rounding). The 64 bits ship as two BIGINT halves (bit 63 never
    * touches the sign). Images whose id ≡ 0 (mod 9) get an exact byte-copy
    * planted under id + [[PlantShift]], so hash groups of size ≥ 2 must appear and
    * the gate is non-vacuous.
    *
    * Scale: the hash is computed inside the same batched `mapPartitions`
    * as the decoder — one pass over the payload bytes, no pixel rows ever
    * materialize in the plan; the dedup groupBy shuffles 16 bytes per
    * image. The oracle re-derives every pixel from the generator
    * arithmetic and must land on identical halves (PNG losslessness end
    * to end).
    */
  /** Per-image aHash halves `(doc_id, hash_hi, hash_lo)` — shared by the
    * dup-group gate and the banded hamming pair search; memoized because
    * both gates decode the same payload frame.
    */
  private[graft] def phashesOf(s: SparkSession, dir: String,
                                   batchSize: Int = 64): DataFrame =
    graft.Memo.cachedLeaf(s, "mm_phashes", dir)(
      phashesCodec(s, dir, batchSize))

  private[graft] def phashesCodec(s: SparkSession, dir: String,
                                  batchSize: Int = 64): DataFrame = {
      import s.implicits._
      val base = withImagePayload(s, dir)
      val planted = base.filter(col("doc_id") % PlantMod === 0)
        .select((col("doc_id") + PlantShift).as("doc_id"), col("payload"))
      base.unionByName(planted)
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.grouped(batchSize).flatMap { batch =>
            batch.iterator.map { case (id, bytes) =>
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              val (w, h) = (img.getWidth, img.getHeight)
              val (bw, bh) = (w / 8, h / 8)
              val bsum = new Array[Long](64)
              var total = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  val lum = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
                  // clamp: for w or h not a multiple of 8 the trailing
                  // pixels fold into block 7 instead of indexing past it
                  bsum(math.min(7, y / bh) * 8 + math.min(7, x / bw)) += lum
                  total += lum
                  x += 1
                }
                y += 1
              }
              var hi = 0L
              var lo = 0L
              var k = 0
              while (k < 64) {
                if (bsum(k) * 64L > total) {
                  if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
                }
                k += 1
              }
              (id, hi, lo)
            }
          }
        }
        .toDF("doc_id", "hash_hi", "hash_lo")
    }

  def phashImages(s: SparkSession, dir: String): DataFrame =
    phashesOf(s, dir)
      .groupBy(col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("rep_id"))
      .orderBy("hash_hi", "hash_lo", "rep_id")

  val phashSql: String = s"""
    WITH ids AS (
      SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, ${genSqlOf("doc_id")}
      FROM documents WHERE doc_id % $PlantMod = 0),
    px AS (
      SELECT ids.doc_id, (y.i // ${ImgH / 8}) * 8 + (x.i // ${ImgW / 8}) AS k,
        ${lumSql("gen_id", "x.i", "y.i")} AS lum
      FROM ids
      CROSS JOIN generate_series(0, ${ImgW - 1}) AS x(i)
      CROSS JOIN generate_series(0, ${ImgH - 1}) AS y(i)),
    bs AS (SELECT doc_id, k, CAST(sum(lum) AS BIGINT) AS bsum
           FROM px GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(sum(bsum) AS BIGINT) AS total
            FROM bs GROUP BY 1),
    bits AS (
      SELECT bs.doc_id, k,
        CASE WHEN bsum * 64 > total THEN 1 ELSE 0 END AS bit
      FROM bs JOIN tot USING (doc_id)),
    hashes AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 AND bit = 1
          THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT)
          AS hash_hi,
        CAST(sum(CASE WHEN k < 32 AND bit = 1
          THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS hash_lo
      FROM bits GROUP BY doc_id)
    SELECT hash_hi, hash_lo, count(*) AS n_images, min(doc_id) AS rep_id
    FROM hashes GROUP BY 1, 2 ORDER BY hash_hi, hash_lo, rep_id"""

  private[operators] val PhashMaxHamming = 3

  /** Banded hamming near-dup pair search over the aHash table: the 64-bit
    * hash splits into four 16-bit bands, candidate pairs share at least one
    * band (equi-join — by pigeonhole, any pair within hamming ≤ 3 MUST
    * agree on one of the 4 bands, so the blocking is lossless for this
    * radius), and the exact hamming distance
    * `bit_count(hi⊕hi) + bit_count(lo⊕lo)` filters candidates. The planted
    * byte-copies surface as hamming-0 pairs.
    *
    * Scale: identical shape to the text LSH band join — band-keyed
    * shuffle, per-band candidate lists, popcount verify in codegen; never
    * an all-pairs comparison.
    */
  // memoized: FIVE consumers ride this verified pair frame (the pair
  // gate, the cluster gate, the stream maintainer, both composed mm
  // pipelines) — each re-ran the band join + popcount verify before r17
  def phashPairs(s: SparkSession, dir: String): DataFrame =
    graft.Memo.cachedLeaf(s, "mm_phash_pairs", dir)(
      hammingBandPairs(phashesOf(s, dir), PhashMaxHamming))

  /** Banded hamming near-dup pair search over ANY 64-bit signature frame
    * `(doc_id, hash_hi, hash_lo)` — the [[phashPairs]] machinery factored
    * so the AUDIO fingerprint family ([[AudioFp]]) runs the identical
    * band-keyed shuffle + popcount verify: the 64 bits split into four
    * 16-bit bands, candidates share at least one band (lossless blocking
    * for hamming ≤ 3 by pigeonhole), exact hamming filters candidates.
    */
  private[operators] def hammingBandPairs(hs: DataFrame,
                                          maxHamming: Int): DataFrame = {
    val bands = hs.select(col("doc_id"), col("hash_hi"), col("hash_lo"),
      explode(array(
        struct(lit(0).as("band"), (col("hash_lo") bitwiseAND 65535L).as("bv")),
        struct(lit(1).as("band"),
          (shiftright(col("hash_lo"), 16) bitwiseAND 65535L).as("bv")),
        struct(lit(2).as("band"), (col("hash_hi") bitwiseAND 65535L).as("bv")),
        struct(lit(3).as("band"),
          (shiftright(col("hash_hi"), 16) bitwiseAND 65535L).as("bv"))))
        .as("b"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val a = bands.select(col("doc_id").as("id_a"), col("hash_hi").as("hi_a"),
      col("hash_lo").as("lo_a"), col("band"), col("bv"))
    val b = bands.select(col("doc_id").as("id_b"), col("hash_hi").as("hi_b"),
      col("hash_lo").as("lo_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** The verified phash pair set as sharded edge observations — the
    * [[Clustering.pairObs]] shape over the IMAGE near-dup family, so
    * the streaming maintainer (`stream_phash_maintain`) rides the same
    * [[graft.streaming.StreamCluster]] per-shard spanning forests.
    */
  private[graft] def phashPairObs(s: SparkSession, dir: String): DataFrame =
    phashPairs(s, dir).select(
      pmod(least(col("id_a"), col("id_b")),
        lit(Clustering.CcShards.toLong)).as("shard"),
      col("id_a").as("a"), col("id_b").as("b"))

  /** The pair-search CTE chain (generator pixels → aHash → bands →
    * verified candidates `cand(id_a, id_b, hamming)`), shared by the pair
    * gate and the clusters gate.
    */
  private[operators] val phashPairCtesSql: String = s"""
    ids AS (
      SELECT doc_id, ${genSqlOf("doc_id")} AS gen_id FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, ${genSqlOf("doc_id")}
      FROM documents WHERE doc_id % $PlantMod = 0),
    px AS (
      SELECT ids.doc_id, (y.i // ${ImgH / 8}) * 8 + (x.i // ${ImgW / 8}) AS k,
        ${lumSql("gen_id", "x.i", "y.i")} AS lum
      FROM ids
      CROSS JOIN generate_series(0, ${ImgW - 1}) AS x(i)
      CROSS JOIN generate_series(0, ${ImgH - 1}) AS y(i)),
    bs AS (SELECT doc_id, k, CAST(sum(lum) AS BIGINT) AS bsum
           FROM px GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(sum(bsum) AS BIGINT) AS total
            FROM bs GROUP BY 1),
    bits AS (
      SELECT bs.doc_id, k,
        CASE WHEN bsum * 64 > total THEN 1 ELSE 0 END AS bit
      FROM bs JOIN tot USING (doc_id)),
    hashes AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN k >= 32 AND bit = 1
          THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT)
          AS hash_hi,
        CAST(sum(CASE WHEN k < 32 AND bit = 1
          THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS hash_lo
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, hash_hi, hash_lo, u.band,
        CASE u.band
          WHEN 0 THEN hash_lo & 65535
          WHEN 1 THEN (hash_lo >> 16) & 65535
          WHEN 2 THEN hash_hi & 65535
          ELSE (hash_hi >> 16) & 65535 END AS bv
      FROM hashes, UNNEST(generate_series(0, 3)) AS u(band)),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        CAST(bit_count(xor(x.hash_hi, y.hash_hi))
          + bit_count(xor(x.hash_lo, y.hash_lo)) AS BIGINT) AS hamming
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)"""

  val phashPairsSql: String = s"""
    WITH $phashPairCtesSql
    SELECT id_a, id_b, hamming FROM cand
    WHERE hamming <= $PhashMaxHamming ORDER BY id_a, id_b"""

  /** Image near-dup CLUSTERS: connected components over the verified
    * hamming pairs — what an image-dedup pipeline ships once near-dups
    * chain a→b→c. Reuses the generic pointer-jumping component loop
    * ([[Clustering.ccPointerJump]]: O(log diameter) rounds, scalar-only
    * driver feedback) over the banded pair edges; the oracle replays the
    * whole chain — pixels → hashes → banded pairs → transitive closure.
    */
  def phashClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = phashPairs(s, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = Clustering.ccPointerJump(pairs)
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"))
    labels.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster"), col("csize"))
      .orderBy("doc_id")
  }

  val phashClustersSql: String = s"""
    WITH RECURSIVE $phashPairCtesSql,
    pedges AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      WHERE hamming <= $PhashMaxHamming
      UNION
      SELECT id_b, id_a FROM cand WHERE hamming <= $PhashMaxHamming),
    reach(id, lab) AS (
      SELECT src, src FROM pedges
      UNION
      SELECT e.src, r.lab FROM pedges e JOIN reach r ON r.id = e.dst),
    comp AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
    sizes AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY cluster)
    SELECT doc_id, cluster, csize FROM comp JOIN sizes USING (cluster)
    ORDER BY doc_id"""

  // ---------------------------------------------------- interleaved records

  /** Vision tokens one image occupies in the training sequence — the
    * fixed patch-grid cost of the projector (e.g. 8×8 patches).
    */
  private[operators] val VisionTokens = 64

  /** The deterministic image-placement frame (doc_id, n_words, ps) over
    * ANY `(doc_id, text)` frame — ONE definition of the planted
    * placement convention (every 3rd doc, arithmetic positions,
    * coincident positions collapse), shared by [[mmInterleave]], the
    * accounting ([[mmAccounting]]) and through it the composed
    * multimodal pipeline, so the convention cannot drift.
    */
  private[operators] def mmPlacements(df: DataFrame): DataFrame = {
    import graft.operators.TextNorm.norm
    val nW = size(split(norm, " "))
    df.select(col("doc_id"), nW.as("n_words"))
      .withColumn("ps",
        when(col("doc_id") % 3 === 0, array_sort(array_distinct(array(
          pmod(col("doc_id"), col("n_words") + 1),
          pmod(col("doc_id") * 7, col("n_words") + 1)))))
          .otherwise(array().cast("array<bigint>")))
  }

  /** Exact multimodal token accounting over ANY `(doc_id, text)` frame:
    * (doc_id, n_images, n_text_tokens, n_image_tokens, n_total_tokens)
    * — [[mmInterleave]]'s numbers without the structure string, for
    * consumers that only need the budget arithmetic.
    */
  private[operators] def mmAccounting(df: DataFrame): DataFrame =
    mmPlacements(df)
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_images"),
        col("n_words").cast("long").as("n_text_tokens"),
        (size(col("ps")) * VisionTokens).cast("long").as("n_image_tokens"),
        (col("n_words") + size(col("ps")) * VisionTokens).cast("long")
          .as("n_total_tokens"))

  /** Gate: interleaved image-text training-record assembly (the
    * LLaVA/Flamingo data shape): each document becomes a segment
    * sequence — text runs split by image insertions — with exact token
    * accounting (text tokens from the word stream, [[VisionTokens]]
    * per image). Image placements are planted deterministically from
    * the doc_id (every 3rd document carries up to two images at
    * arithmetic positions; coincident positions collapse), so both
    * engines derive the identical structure. The `structure` column is
    * the canonical segment string ("T:12,I,T:30,I,T:5") the packer
    * downstream consumes — a malformed split anywhere breaks the hash.
    *
    * Scale: pure per-row column expressions over the document scan
    * (array build → sort → gap transform → join) — codegen, no UDF, no
    * shuffle; the image payloads themselves stay opaque binaries in
    * the multimodal store, only their PLACEMENT rides this plan.
    */
  def mmInterleave(s: SparkSession, dir: String): DataFrame = {
    mmPlacements(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .withColumn("gaps", expr(
        """transform(sequence(0, size(ps)),
           i -> (CASE WHEN i = size(ps) THEN n_words
                      ELSE ps[i] END)
              - (CASE WHEN i = 0 THEN 0L ELSE ps[i - 1] END))"""))
      .withColumn("structure", expr(
        """concat_ws(',', flatten(transform(gaps,
           (g, i) -> CASE
             WHEN g > 0 AND i < size(gaps) - 1
               THEN array(concat('T:', g), 'I')
             WHEN g > 0 THEN array(concat('T:', g))
             WHEN i < size(gaps) - 1 THEN array('I')
             ELSE array() END)))"""))
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_images"),
        col("n_words").cast("long").as("n_text_tokens"),
        (size(col("ps")) * VisionTokens).cast("long").as("n_image_tokens"),
        (col("n_words") + size(col("ps")) * VisionTokens).cast("long")
          .as("n_total_tokens"),
        col("structure"))
      .orderBy("doc_id")
  }

  val mmInterleaveSql: String = {
    import graft.operators.TextNorm.normSql
    s"""
    WITH mmw AS (
      SELECT doc_id, len(string_split($normSql, ' ')) AS n_words
      FROM documents),
    mmp AS (
      SELECT doc_id, n_words,
        CASE WHEN doc_id % 3 = 0 THEN
          list_sort(list_distinct([doc_id % (n_words + 1),
                                   (doc_id * 7) % (n_words + 1)]))
        ELSE [] END AS ps
      FROM mmw),
    mmg AS (
      SELECT doc_id, n_words, ps,
        list_transform(generate_series(0, len(ps)),
          i -> (CASE WHEN i = len(ps) THEN n_words ELSE ps[i + 1] END)
             - (CASE WHEN i = 0 THEN 0 ELSE ps[i] END)) AS gaps
      FROM mmp)
    SELECT doc_id,
      CAST(len(ps) AS BIGINT) AS n_images,
      CAST(n_words AS BIGINT) AS n_text_tokens,
      CAST(len(ps) * $VisionTokens AS BIGINT) AS n_image_tokens,
      CAST(n_words + len(ps) * $VisionTokens AS BIGINT) AS n_total_tokens,
      array_to_string(flatten(list_transform(gaps,
        (g, i) -> CASE
          WHEN g > 0 AND i < len(gaps) THEN ['T:' || g, 'I']
          WHEN g > 0 THEN ['T:' || g]
          WHEN i < len(gaps) THEN ['I']
          ELSE [] END)), ',') AS structure
    FROM mmg ORDER BY doc_id"""
  }

  // -------------------------------------------- multimodal shard layout

  /** Gate: the MULTIMODAL-AWARE shard plan — `shard_plan`'s
    * token-balanced write layout where the balance counts VISION
    * tokens, not just text (the LLaVA-training layout: an image-text
    * record costs `n_words + n_images × [[VisionTokens]]` sequence
    * positions, and a shard plan balanced on text tokens alone skews
    * image-heavy shards ~[[VisionTokens]]× per image). Composes
    * [[mmInterleave]]'s exact token accounting (the SAME definition —
    * the two gates cannot drift) with [[TrainPrep.shardPlan]]'s layout
    * discipline: deterministic md5 shuffle order (salt `:mm`), shard
    * size ⌈total/[[TrainPrep.OutShards]]⌉, whole records never split,
    * start-offset membership, per-shard extents plus text/image token
    * attribution and the order-free additive member digest.
    *
    * Scale: identical to `shard_plan` — one accounting map over the
    * scan, a scalar broadcast, [[DistRank.runningSum]] (two-phase, no
    * global window), O(shards) output.
    */
  def mmShardPlan(s: SparkSession, dir: String): DataFrame =
    mmLayout(mmInterleave(s, dir)
      .select(col("doc_id"), col("n_images"), col("n_text_tokens"),
        col("n_image_tokens"), col("n_total_tokens")))

  /** The vision-token-balanced shard layout over ANY accounting frame
    * (doc_id, n_images, n_text_tokens, n_image_tokens, n_total_tokens)
    * — [[mmShardPlan]]'s layout discipline factored so the composed
    * multimodal pipeline shards its SURVIVOR set through the same
    * definition.
    */
  private[operators] def mmLayout(docs0: DataFrame): DataFrame =
    mediaLayout(docs0, "n_images", "n_image_tokens")

  /** The media-token-balanced shard layout over ANY accounting frame
    * (doc_id, <nMedia>, n_text_tokens, <mediaTok>, n_total_tokens) —
    * [[mmLayout]] generalized over the media attribution columns so the
    * AUDIO chain ([[audioShardPlan]]) prices its rate-derived tokens
    * through the identical layout discipline (deterministic md5
    * shuffle order, ⌈total/shards⌉ size, whole records, start-offset
    * membership, additive member digest). One definition — the image
    * and audio layouts cannot drift.
    */
  private[operators] def mediaLayout(docs0: DataFrame, nMedia: String,
                                     mediaTok: String): DataFrame = {
    val docs = docs0
      .withColumn("h", expr("cast(conv(substring(md5(concat(" +
        "cast(doc_id as string), ':mm')), 1, 8), 16, 10) as bigint)"))
    val ssize = docs.agg(
      expr(s"(sum(n_total_tokens) + ${TrainPrep.OutShards - 1})" +
        s" div ${TrainPrep.OutShards}").as("ssize"))
    val cum = DistRank.runningSum(
      docs.withColumn("__all", lit(0L)),
      "__all", Seq(col("h"), col("doc_id")), "doc_id",
      col("n_total_tokens"), "cs")
    cum.crossJoin(broadcast(ssize))
      .withColumn("shard_id", expr("(cs - n_total_tokens) div ssize"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(nMedia)).as(nMedia),
        sum(col("n_text_tokens")).as("n_text_tokens"),
        sum(col(mediaTok)).as(mediaTok),
        sum(col("n_total_tokens")).as("n_tokens"),
        min(col("cs") - col("n_total_tokens")).as("start_offset"),
        max(col("cs")).as("end_offset"),
        sum(expr("cast(conv(substring(md5(concat(cast(doc_id as string)," +
          " ':ck')), 1, 8), 16, 10) as bigint)")).as("member_check"))
      .orderBy("shard_id")
  }

  val mmShardPlanSql: String = {
    import graft.operators.TextNorm.normSql
    val shards = TrainPrep.OutShards
    s"""
    WITH mmsw AS (
      SELECT doc_id, len(string_split($normSql, ' ')) AS n_words
      FROM documents),
    mmsp AS (
      SELECT doc_id, n_words,
        CASE WHEN doc_id % 3 = 0 THEN
          list_sort(list_distinct([doc_id % (n_words + 1),
                                   (doc_id * 7) % (n_words + 1)]))
        ELSE [] END AS ps
      FROM mmsw),
    mmsd AS (
      SELECT doc_id,
        CAST(len(ps) AS BIGINT) AS n_images,
        CAST(n_words AS BIGINT) AS n_text_tokens,
        CAST(len(ps) * $VisionTokens AS BIGINT) AS n_image_tokens,
        CAST(n_words + len(ps) * $VisionTokens AS BIGINT)
          AS n_total_tokens,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mm'),
          1, 8))::BIGINT AS h
      FROM mmsp),
    mmst AS (
      SELECT CAST((sum(n_total_tokens) + ${shards - 1}) // $shards
        AS BIGINT) AS ssize
      FROM mmsd),
    mmsc AS (
      SELECT doc_id, n_images, n_text_tokens, n_image_tokens,
        n_total_tokens,
        CAST(sum(n_total_tokens) OVER (ORDER BY h, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
      FROM mmsd)
    SELECT CAST((cs - n_total_tokens) // ssize AS BIGINT) AS shard_id,
      count(*) AS n_docs,
      CAST(sum(n_images) AS BIGINT) AS n_images,
      CAST(sum(n_text_tokens) AS BIGINT) AS n_text_tokens,
      CAST(sum(n_image_tokens) AS BIGINT) AS n_image_tokens,
      CAST(sum(n_total_tokens) AS BIGINT) AS n_tokens,
      CAST(min(cs - n_total_tokens) AS BIGINT) AS start_offset,
      CAST(max(cs) AS BIGINT) AS end_offset,
      CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
        1, 8))::BIGINT) AS BIGINT) AS member_check
    FROM mmsc, mmst GROUP BY 1 ORDER BY shard_id"""
  }

  // -------------------------------------------------- audio accounting

  /** Audio tokens per second of waveform — the tokenizer frame rate an
    * audio-LM data layout budgets with (EnCodec/SoundStream-class
    * codecs emit O(10²) tokens/s; the exact rate is a model constant).
    * Cost is DURATION-derived: tokens = ⌈samples · rate_tok / rate⌉, so
    * a resampled stream (half the samples at half the rate) costs the
    * SAME tokens — the invariant the spec pins.
    */
  private[graft] val AudioTokensPerSec = 400

  /** Gate: per-document AUDIO-interleave accounting — the Flamingo/
    * AudioLM-style data-layout arithmetic with the audio cost derived
    * from the REAL decode path: every 3rd doc (residue 1 — disjoint
    * from the image placement residue) carries 1–3 clips of its WAV
    * stream; even ids ship the full-rate PCM ([[decodeAudio]]'s frames),
    * odd ids the half-rate resampled stream ([[resampleAudio]]) — and
    * the per-clip token cost ⌈samples·[[AudioTokensPerSec]]/rate⌉ comes
    * from the DECODED (samples, rate), not from constants, so a codec
    * regression that drops frames breaks the gate. Audio tokens enter
    * the total exactly here: n_total − n_text = n_clips·⌈s·r_t/r⌉ =
    * f(samples, rate) — the token-entry conservation the spec pins,
    * together with resampling invariance (duration-derived cost).
    *
    * Scale: two memoized decode passes (shared with the solo audio
    * gates), one narrow join on doc_id, pure column arithmetic — no
    * shuffle beyond the join; payloads never leave the executors.
    */
  def audioInterleave(s: SparkSession, dir: String): DataFrame =
    audioAccounting(s, dir,
      Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .orderBy("doc_id")

  /** The audio-interleave accounting over ANY `(doc_id, text)` frame —
    * [[audioInterleave]]'s arithmetic factored so the composed audio
    * pipeline ([[PipelineMedia]]) prices its SURVIVOR set through the
    * identical definition (the [[mmAccounting]] discipline for the
    * audio modality). Clip geometry joins from the memoized decode /
    * resample frames, so callers must pass corpus doc ids only (the
    * composed pipeline's dedup stage guarantees that — plants die
    * before accounting).
    */
  private[operators] def audioAccounting(s: SparkSession, dir: String,
                                         docs0: DataFrame): DataFrame = {
    import graft.operators.TextNorm.norm
    val docs = docs0
      .select(col("doc_id"),
        size(split(norm, " ")).cast("long").as("n_text_tokens"))
    val dec = decodeAudio(s, dir)
      .select(col("doc_id"), col("n_samples"), col("rate"))
    val res = resampleAudio(s, dir)
      .select(col("doc_id"), col("out_samples").as("n_samples"),
        col("out_rate").as("rate"))
    val clip = dec.filter(col("doc_id") % 2 === 0)
      .unionByName(res.filter(col("doc_id") % 2 === 1))
    docs.join(clip, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 1,
          expr("1L + (doc_id div 3) % 3")).otherwise(0L)
          .as("n_clips"),
        when(col("doc_id") % 3 === 1, col("rate").cast("long"))
          .otherwise(0L).as("clip_rate"),
        when(col("doc_id") % 3 === 1, col("n_samples").cast("long"))
          .otherwise(0L).as("clip_samples"),
        col("n_text_tokens"))
      .withColumn("n_audio_tokens",
        when(col("n_clips") > 0, col("n_clips") *
          expr(s"(clip_samples * $AudioTokensPerSec + clip_rate - 1)" +
            " div clip_rate"))
          .otherwise(0L))
      .withColumn("n_total_tokens",
        col("n_text_tokens") + col("n_audio_tokens"))
  }

  val audioInterleaveSql: String = {
    import graft.operators.TextNorm.normSql
    val full = AudRate.toInt
    s"""
    WITH aiw AS (
      SELECT doc_id,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_text_tokens
      FROM documents),
    aic AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 1 THEN 1 + (doc_id // 3) % 3
          ELSE 0 END AS n_clips,
        CASE WHEN doc_id % 3 = 1 THEN
            CASE WHEN doc_id % 2 = 0 THEN $full ELSE ${full / 2} END
          ELSE 0 END AS clip_rate,
        CASE WHEN doc_id % 3 = 1 THEN
            CASE WHEN doc_id % 2 = 0 THEN $AudSamples
              ELSE ${AudSamples / 2} END
          ELSE 0 END AS clip_samples
      FROM documents),
    aia AS (
      SELECT c.doc_id, CAST(n_clips AS BIGINT) AS n_clips,
        CAST(clip_rate AS BIGINT) AS clip_rate,
        CAST(clip_samples AS BIGINT) AS clip_samples,
        w.n_text_tokens,
        CAST(CASE WHEN n_clips > 0 THEN n_clips *
            ((clip_samples * $AudioTokensPerSec + clip_rate - 1)
              // clip_rate)
          ELSE 0 END AS BIGINT) AS n_audio_tokens
      FROM aic c JOIN aiw w USING (doc_id))
    SELECT doc_id, n_clips, clip_rate, clip_samples, n_text_tokens,
      n_audio_tokens,
      n_text_tokens + n_audio_tokens AS n_total_tokens
    FROM aia ORDER BY doc_id"""
  }

  /** Gate: the AUDIO-token-balanced shard plan — [[mmShardPlan]]'s
    * layout discipline over the [[audioInterleave]] accounting (ONE
    * [[mediaLayout]] definition serves both modalities): shards balance
    * on text + rate-derived audio tokens, with per-shard clip and
    * audio-token attribution — the Flamingo/AudioLM write layout.
    */
  def audioShardPlan(s: SparkSession, dir: String): DataFrame =
    // eager checkpoint: the layout takes several driver actions (size
    // scalar, two-phase rank) and each would re-run the WAV decode
    // chain upstream — measured 22 s vs ~4 s at sf0.1; the accounting
    // is narrow (5 longs/doc), so materializing it once is the
    // decode-amortization a production run gets from its stored
    // accounting table
    mediaLayout(
      audioInterleave(s, dir)
        .select(col("doc_id"), col("n_clips"), col("n_text_tokens"),
          col("n_audio_tokens"), col("n_total_tokens"))
        .localCheckpoint(true),
      "n_clips", "n_audio_tokens")

  val audioShardPlanSql: String = {
    import graft.operators.TextNorm.normSql
    val shards = TrainPrep.OutShards
    val full = AudRate.toInt
    s"""
    WITH asw AS (
      SELECT doc_id,
        CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_text_tokens
      FROM documents),
    asc0 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 1 THEN 1 + (doc_id // 3) % 3
          ELSE 0 END AS n_clips,
        CASE WHEN doc_id % 3 = 1 THEN
            CASE WHEN doc_id % 2 = 0 THEN $full ELSE ${full / 2} END
          ELSE 0 END AS clip_rate,
        CASE WHEN doc_id % 3 = 1 THEN
            CASE WHEN doc_id % 2 = 0 THEN $AudSamples
              ELSE ${AudSamples / 2} END
          ELSE 0 END AS clip_samples
      FROM documents),
    asd AS (
      SELECT c.doc_id, CAST(n_clips AS BIGINT) AS n_clips,
        w.n_text_tokens,
        CAST(CASE WHEN n_clips > 0 THEN n_clips *
            ((clip_samples * $AudioTokensPerSec + clip_rate - 1)
              // clip_rate)
          ELSE 0 END AS BIGINT) AS n_audio_tokens,
        CAST(w.n_text_tokens + CASE WHEN n_clips > 0 THEN n_clips *
            ((clip_samples * $AudioTokensPerSec + clip_rate - 1)
              // clip_rate)
          ELSE 0 END AS BIGINT) AS n_total_tokens,
        ('0x' || substring(md5(CAST(c.doc_id AS VARCHAR) || ':mm'),
          1, 8))::BIGINT AS h
      FROM asc0 c JOIN asw w USING (doc_id)),
    ast AS (
      SELECT CAST((sum(n_total_tokens) + ${shards - 1}) // $shards
        AS BIGINT) AS ssize
      FROM asd),
    ascm AS (
      SELECT doc_id, n_clips, n_text_tokens, n_audio_tokens,
        n_total_tokens,
        CAST(sum(n_total_tokens) OVER (ORDER BY h, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
      FROM asd)
    SELECT CAST((cs - n_total_tokens) // ssize AS BIGINT) AS shard_id,
      count(*) AS n_docs,
      CAST(sum(n_clips) AS BIGINT) AS n_clips,
      CAST(sum(n_text_tokens) AS BIGINT) AS n_text_tokens,
      CAST(sum(n_audio_tokens) AS BIGINT) AS n_audio_tokens,
      CAST(sum(n_total_tokens) AS BIGINT) AS n_tokens,
      CAST(min(cs - n_total_tokens) AS BIGINT) AS start_offset,
      CAST(max(cs) AS BIGINT) AS end_offset,
      CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
        1, 8))::BIGINT) AS BIGINT) AS member_check
    FROM ascm, ast GROUP BY 1 ORDER BY shard_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "audio_interleave" -> (audioInterleave _),
    "audio_shard_plan" -> (audioShardPlan _),
    "mm_shard_plan" -> (mmShardPlan _),
    "mm_interleave" -> (mmInterleave _),
    "multimodal_phash" -> (phashImages(_, _)),
    "multimodal_phash_pairs" -> (phashPairs _),
    "phash_clusters" -> (phashClusters _),
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_resize" -> (resizeImages(_, _)),
    "multimodal_frames" -> (frameSample _),
    // real javax.imageio decode; pix_md5 is spec-pinned (not SQL-expressible)
    // while geometry + pixel sum are fully oracle-gated
    "multimodal_decode" -> ((s, dir) => decodeImages(s, dir).toDF()
      .select("doc_id", "width", "height", "channels", "pix_sum")
      .orderBy("doc_id")),
    // real javax.sound.sampled WAV decode; pcm_md5 spec-pinned, the rest
    // oracle-gated (PCM is lossless)
    "multimodal_audio" -> ((s, dir) => decodeAudio(s, dir)
      .select("doc_id", "rate", "channels", "bits", "n_samples", "sample_sum")
      .orderBy("doc_id")),
    "multimodal_resample" -> (resampleAudio(_, _)))

  val oracles: Map[String, String] = Map(
    "audio_interleave" -> audioInterleaveSql,
    "audio_shard_plan" -> audioShardPlanSql,
    "mm_shard_plan" -> mmShardPlanSql,
    "mm_interleave" -> mmInterleaveSql,
    "multimodal_phash" -> phashSql,
    "multimodal_phash_pairs" -> phashPairsSql,
    "phash_clusters" -> phashClustersSql,
    "multimodal_meta" -> multimodalMetaSql,
    "multimodal_resize" -> resizeSql,
    "multimodal_frames" -> frameSampleSql,
    "multimodal_decode" -> decodeSql,
    "multimodal_audio" -> decodeAudioSql,
    "multimodal_resample" -> resampleAudioSql)
}
