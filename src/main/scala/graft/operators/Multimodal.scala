package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted per partition.
  *
  * The Spark-side shape is the real thing — binary column, case-class
  * schema, `mapPartitions` batch processing (one decoder init per
  * partition, not per row), partition-parallel. Two decode paths:
  *
  *  - [[stubDecode]] (q29): deterministic fake dimensions from payload
  *    bytes — the placeholder for codecs this container lacks
  *    (audio/video).
  *  - [[pngPayloads]] → [[decodePixelStats]] (q169): a REAL image
  *    codec round-trip on the JDK's own `javax.imageio` — genuine PNG
  *    bytes are written into the binary column and genuinely parsed
  *    back out, pixel for pixel. The pixel content derives from doc_id
  *    alone, so the DuckDB oracle replays the arithmetic without
  *    needing a codec while the engine exercises the true
  *    encode→binary-column→decode pipeline.
  */
object Multimodal {

  case class Blob(doc_id: Long, payload: Array[Byte])
  case class Decoded(doc_id: Long, n_bytes: Long, width: Long, height: Long)

  /** STUB decoder — deterministic fake of an image header parse.
    * Real implementation would decode `blob.payload` here. */
  def stubDecode(blob: Blob): Decoded = {
    val n = blob.payload.length.toLong
    Decoded(blob.doc_id, n, 320 + n % 320, 240 + n % 240)
  }

  /** Attach a binary payload column (fixtures carry text; a real corpus
    * would store the media bytes directly). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Decode + feature-extract, batched per partition. */
  def decodeFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val blobs: Dataset[Blob] = withPayload(docs).as[Blob]
    blobs.mapPartitions { it =>
      // per-partition decoder init would go here (expensive codec setup
      // amortized across the partition's rows)
      it.map(stubDecode)
    }.toDF()
      .withColumn("aspect", round(col("width") / col("height"), 6))
  }

  case class PngBlob(doc_id: Long, payload: Array[Byte])
  case class PixelStats(doc_id: Long, width: Long, height: Long,
                        n_pixels: Long, sum_px: Long)

  /** Image CONTENT id: which deterministic payload a document carries.
    * Documents with doc_id ≡ 27 (mod 50) carry the payload of
    * doc_id − 27 (≡ 0 mod 50) — EXACT planted twins — and documents
    * with doc_id ≡ 31 (mod 50) carry doc_id − 12's (≡ 19) payload with
    * its first two pixels SWAPPED ([[imageNearTwin]]) — NEAR twins:
    * the sum-preserving swap changes at most the two affected
    * threshold bits, so the near twin lands within hamming ≤ 2 of its
    * donor on both the native and the resampled fingerprint (exactly
    * hamming 0 when the two pixels agree on the mean side — then it
    * simply joins the donor's class). 4% of the corpus carries planted
    * duplication (pair classes, donors ≡ 0 / ≡ 19 never remap), so the
    * image dedup arm has true exact AND near duplicates to find at
    * every scale while [[pixel]]'s entropy keeps unrelated documents'
    * fingerprints distinct. */
  def imageContentId(id: Long): Long =
    if (id % 50 == 27) id - 27
    else if (id % 50 == 31) id - 12
    else id

  /** True when the document carries the pixel-swapped NEAR-twin form
    * of its donor's image (see [[imageContentId]]). */
  def imageNearTwin(id: Long): Boolean = id % 50 == 31

  /** Image dims derive from the CONTENT id: width 8..12, height 8..11
    * — at least 8×8 source pixels, so the [[pHashesResampled]] grid's
    * 64 cells are all informative (a raster below the grid replicates
    * pixels into multiple cells and caps the fingerprint's entropy at
    * w·h bits — the round-11 saturation lesson, q215). */
  def imageWidth(id: Long): Int = (8 + imageContentId(id) % 5).toInt
  def imageHeight(id: Long): Int = (8 + imageContentId(id) % 4).toInt

  /** Deterministic pixel content: an 8-bit grayscale image whose
    * pixels derive from the CONTENT id alone through a
    * multiplicative-hash mix —
    *   t = (cid·2654435761 + 40503x + 30011y + 12289xy) mod 1000003
    *   pixel(x, y) = (t² mod 1000003) mod 256
    * (Knuth's 2654435761 = ⌊2³²/φ⌋; 1000003 prime). The SQUARE is
    * load-bearing: without it the document key enters only as an
    * additive offset, so documents with cid·K congruent mod 256 share
    * most pixels and fingerprints birthday-collide (measured: max
    * class 12 at 20k ids); squaring makes the key perturb every pixel
    * position-dependently (quadratic-residue scramble — measured: 500k
    * ids, 500k distinct resampled hashes, zero accidental collisions).
    * All intermediates stay far under 2⁶³ (t < 10⁶ so t² < 10¹²), so
    * the DuckDB oracle replays the arithmetic exactly (BIGINT raises
    * on overflow where a Long would wrap). */
  private def pixel(cid: Long, x: Int, y: Int): Int = {
    val t = (cid * 2654435761L + x * 40503L + y * 30011L +
      x.toLong * y * 12289L) % 1000003L
    ((t * t % 1000003L) % 256L).toInt
  }

  /** ENCODE: one genuine PNG per document, via `javax.imageio` —
    * (doc_id, payload: binary). PNG's 8-bit grayscale is lossless, so
    * the decode side recovers every pixel exactly. */
  def pngPayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      // the raster builds directly in PNG scanline order; the encoder is
      // the spec-compliant [[FastCodec.pngEncodeGray8]] (18 µs/doc vs
      // ImageIO.write's 1661 — the write path's disk-backed stream cache
      // and per-call plumbing dwarfed the actual codec; FastCodec
      // scaladoc has the measurements and the pinned ImageIO round-trip)
      it.map { rowId =>
        val id = imageContentId(rowId)
        val swap = imageNearTwin(rowId)
        val w = imageWidth(rowId)
        val h = imageHeight(rowId)
        val px = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { px(y * w + x) = pixel(id, x, y).toByte; x += 1 }
          y += 1
        }
        if (swap) {
          // the near-twin perturbation: a sum-preserving swap of the
          // first two pixels (w ≥ 8, so (0,0) and (1,0) always exist)
          px(0) = pixel(id, 1, 0).toByte
          px(1) = pixel(id, 0, 0).toByte
        }
        PngBlob(rowId, FastCodec.pngEncodeGray8(w, h, px))
      }
    }.toDF()
  }

  /** DECODE: parse the actual PNG stream back (headers AND pixel data)
    * and reduce to per-image stats — the feature-extraction stage of an
    * image pipeline, batched per partition. */
  def decodePixelStats(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.as[PngBlob].mapPartitions { it =>
      // [[FastCodec.grayDecodeAny]]: direct chunk-walk + inflate +
      // unfilter for the supported PNG shape (2 µs/doc vs ImageIO.read's
      // 2900 — per-call provider lookup + reader init dominated the real
      // parse), ImageIO fallback for anything else
      it.map { b =>
        val g = FastCodec.grayDecodeAny(b.payload)
        var s = 0L
        var i = 0
        while (i < g.px.length) { s += g.px(i); i += 1 }
        PixelStats(b.doc_id, g.w.toLong, g.h.toLong, g.w.toLong * g.h, s)
      }
    }.toDF()
  }

  case class PHashRow(doc_id: Long, width: Long, height: Long, phash: Long)

  /** Average-hash (aHash) perceptual fingerprint per image, computed
    * from the REAL PNG decode: threshold bit k (row-major, k = y·w+x)
    * is on when pixel(x, y) ≥ the image mean, PARITY-FOLDED into 48
    * hash bits — hash bit j = XOR of the threshold bits at positions
    * k ≡ j (mod 48). For rasters of at most 48 pixels each residue
    * holds one position and the fold IS the classic aHash bit pack
    * (the pre-round-12 fixture regime, preserved bit for bit); larger
    * rasters fold instead of overflowing the pack — 48 keeps the hash
    * inside the 4×12-bit band structure of [[pHashClassPairs]] and off
    * every BIGINT sign bit. The threshold is INTEGER-EXACT — px ≥ mean
    * ⟺ px·n_pixels ≥ Σpx, no division — so the oracle replays the
    * hash from the deterministic pixel model while the engine runs the
    * true binary-column → codec → hash pipeline. The RESAMPLED arm
    * ([[pHashesResampled]]) is the standard production aHash; this
    * native-raster fold is the cheap no-resample screen. */
  def pHashes(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.as[PngBlob].mapPartitions { it =>
      it.map { b =>
        val g = FastCodec.grayDecodeAny(b.payload)
        val n = (g.w * g.h).toLong
        var s = 0L
        var i = 0
        while (i < g.px.length) { s += g.px(i); i += 1 }
        var bits = 0L
        i = 0
        while (i < g.px.length) {
          if (g.px(i).toLong * n >= s) bits ^= 1L << (i % 48)
          i += 1
        }
        PHashRow(b.doc_id, g.w.toLong, g.h.toLong, bits)
      }
    }.toDF()
  }

  case class ResampledHash(doc_id: Long, width: Long, height: Long,
                           ph_hi: Long, ph_lo: Long)

  /** The standard-aHash RESAMPLE arm: decode, mean-resample the raster
    * to a fixed `grid`×`grid` (the classic 8×8), threshold each cell
    * against the image mean — so images whose content matches at
    * DIFFERENT sizes (the resize near-dups a real crawl is full of,
    * which [[pHashes]]' native-raster hash cannot see) land on the
    * same fingerprint. Everything stays INTEGER-EXACT so the oracle
    * replays it from the pixel model:
    *
    *  - cell (i, j) covers source box x ∈ [⌊i·w/g⌋, max(⌊(i+1)·w/g⌋,
    *    ⌊i·w/g⌋+1)) (and y alike) — exact integer box-mean
    *    downsampling, degrading to nearest-neighbor replication when
    *    the source is smaller than the grid (empty box → its floor
    *    pixel), so the map is total for ANY w, h ≥ 1;
    *  - bit j·g+i is set iff the CELL mean ≥ the IMAGE mean:
    *    S_cell·(w·h) ≥ S_img·n_cell — cross-multiplied, no division.
    *    (Classic aHash thresholds on the mean of the resampled cells;
    *    with exact box-means the two thresholds agree whenever the
    *    boxes tile the raster evenly, and the image-mean form stays
    *    integer-exact when they don't.)
    *
    * The hash is `grid`² ≤ 64 bits, stored as two non-negative 32-bit
    * halves (`ph_hi` bits 32.., `ph_lo` bits 0..31) — the
    * [[NearDup.simHash64]] convention, so bit 63 never touches a
    * BIGINT sign bit on either engine. A per-partition decoder detail:
    * the PLAN is identical to [[pHashes]] (one mapPartitions over the
    * payload column). */
  def pHashesResampled(spark: SparkSession, payloads: DataFrame,
                       grid: Int): DataFrame = {
    require(grid >= 2 && grid * grid <= 64,
      s"resample grid must pack into 64 bits, got $grid")
    import spark.implicits._
    payloads.as[PngBlob].mapPartitions { it =>
      it.map { b =>
        val g = FastCodec.grayDecodeAny(b.payload)
        val (w, h) = (g.w, g.h)
        var sImg = 0L
        var i0 = 0
        while (i0 < g.px.length) { sImg += g.px(i0); i0 += 1 }
        val nImg = w.toLong * h
        var hi = 0L
        var lo = 0L
        var j = 0
        while (j < grid) {
          val y0 = j * h / grid
          val y1 = math.max((j + 1) * h / grid, y0 + 1)
          var i = 0
          while (i < grid) {
            val x0 = i * w / grid
            val x1 = math.max((i + 1) * w / grid, x0 + 1)
            var sCell = 0L
            var yy = y0
            while (yy < y1) {
              var xx = x0
              while (xx < x1) { sCell += g.px(yy * w + xx); xx += 1 }
              yy += 1
            }
            val nCell = (x1 - x0).toLong * (y1 - y0)
            if (sCell * nImg >= sImg * nCell) {
              val k = j * grid + i
              if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
            }
            i += 1
          }
          j += 1
        }
        ResampledHash(b.doc_id, w.toLong, h.toLong, hi, lo)
      }
    }.toDF()
  }

  /** Image near-dup pairs at the HASH-CLASS level: perceptual-hash
    * classes (same dims, same phash — the exact-duplicate clusters)
    * paired when their hashes sit within `maxHamming` bits. Working on
    * class representatives instead of images is the flood lesson
    * applied to the image modality from day one: the fixture's small
    * structured images collide heavily (2,826 identical-hash image
    * pairs at sf0.01; ~300k at sf0.1 — measured), so image-level pair
    * materialization is O(cluster²) exactly like a boilerplate text
    * flood, while the class table is bounded by |distinct hashes| and
    * each emitted row carries its member counts (n_a·n_b expands to
    * image pairs ONLY if a consumer truly needs them). Candidate
    * generation is the 4×12-bit band equi-join keyed by (w, h, band,
    * value) — pigeonhole-exact for hamming ≤ 3 over the ≤ 48 used
    * bits, never n². Classes are staged (both join sides). */
  def pHashClassPairs(ph: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4-band×12-bit pigeonhole recall needs maxHamming < 4")
    val cls = Shingles.shared(
      ph.groupBy(col("width"), col("height"), col("phash"))
        .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("anchor")))
    val banded = cls.select(col("width"), col("height"), col("phash"),
        col("n_imgs"), col("anchor"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band"),
          shiftright(col("phash"), 12 * j).bitwiseAND(lit(4095L)).as("bv"))): _*))
          .as("bb"))
      .select(col("width"), col("height"), col("phash"), col("n_imgs"),
        col("anchor"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val a = banded.select(col("width"), col("height"), col("band"), col("bv"),
      col("phash").as("ph_a"), col("n_imgs").as("n_a"), col("anchor").as("anchor_a"))
    val b = banded.select(col("width"), col("height"), col("band"), col("bv"),
      col("phash").as("ph_b"), col("n_imgs").as("n_b"), col("anchor").as("anchor_b"))
    a.join(b, Seq("width", "height", "band", "bv"))
      .filter(col("ph_a") < col("ph_b"))
      .select(col("width"), col("height"), col("ph_a"), col("ph_b"),
        col("n_a"), col("n_b"), col("anchor_a"), col("anchor_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[pHashClassPairs]] behind a per-(width, height, band, value)
    * CLASS-population cap — the star-reduction lesson carried to the
    * image modality's remaining blow-up regime: class-level pairing
    * bounds O(images²), but when a corpus's distinct-hash count
    * approaches |images| (every image mildly unique — re-encodes,
    * watermark pixels), a popular band value's CLASS population itself
    * goes quadratic and the class join degrades to the raw pair join.
    * Buckets at or under `maxBucket` keep the exact all-pairs band
    * join; buckets over it star-reduce to their min-phash anchor
    * CLASS: m−1 candidate edges instead of m(m−1)/2, linear for a
    * fixed cap. Every emitted edge still passes the exact hamming
    * verify, so the output stays a subset of true class pairs, and a
    * genuine near-dup crowd stays connected through its anchor
    * (identical argument to [[NearDup.simHashPairsCapped]], which see
    * for the recall trade-off discussion). Below the cap the pair set
    * is IDENTICAL to the uncapped operator (spec-pinned). */
  def pHashClassPairsCapped(ph: DataFrame, maxHamming: Int,
                            maxBucket: Long): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4-band×12-bit pigeonhole recall needs maxHamming < 4")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val cls = Shingles.shared(
      ph.groupBy(col("width"), col("height"), col("phash"))
        .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("anchor")))
    val banded = cls.select(col("width"), col("height"), col("phash"),
        col("n_imgs"), col("anchor"),
        explode(array((0 until 4).map(j => struct(lit(j).as("band"),
          shiftright(col("phash"), 12 * j).bitwiseAND(lit(4095L)).as("bv"))): _*))
          .as("bb"))
      .select(col("width"), col("height"), col("phash"), col("n_imgs"),
        col("anchor"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    // anchor class = min struct(phash, n_imgs, anchor): phash is unique
    // within a (w, h, band, bv) bucket, so the struct min is exactly the
    // min-phash class with its own member count and representative
    val stats = banded.groupBy(col("width"), col("height"), col("band"),
        col("bv"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("phash"), col("n_imgs"), col("anchor"))).as("__a"))
    val tagged = banded.join(stats, Seq("width", "height", "band", "bv"))
    val small = tagged.filter(col("__n") <= maxBucket)
    val allPairs = small
      .select(col("width"), col("height"), col("band"), col("bv"),
        col("phash").as("ph_a"), col("n_imgs").as("n_a"),
        col("anchor").as("anchor_a"))
      .join(small.select(col("width"), col("height"), col("band"), col("bv"),
        col("phash").as("ph_b"), col("n_imgs").as("n_b"),
        col("anchor").as("anchor_b")),
        Seq("width", "height", "band", "bv"))
      .filter(col("ph_a") < col("ph_b"))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(col("phash") =!= col("__a.phash"))
      // the anchor carries the bucket's min phash, so ph_a < ph_b
      .select(col("width"), col("height"),
        col("__a.phash").as("ph_a"), col("phash").as("ph_b"),
        col("__a.n_imgs").as("n_a"), col("n_imgs").as("n_b"),
        col("__a.anchor").as("anchor_a"), col("anchor").as("anchor_b"))
    allPairs
      .select(col("width"), col("height"), col("ph_a"), col("ph_b"),
        col("n_a"), col("n_b"), col("anchor_a"), col("anchor_b"))
      .union(star)
      .distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup CLASS pairs over the RESAMPLED hash
    * ([[pHashesResampled]]) — the dedup stage that completes the
    * resize-robust arm. Two deliberate differences from the
    * native-raster pair operator ([[pHashClassPairs]]):
    *
    *  - classes key on the HASH ALONE, never (width, height):
    *    resampling exists precisely so images of different dimensions
    *    can match, so dims must not partition the candidate space;
    *  - capped from day one (the flood lesson): candidates come from a
    *    4-band × 16-bit equi-join over the 64-bit hash
    *    (pigeonhole-exact for hamming < 4), and any band bucket over
    *    `maxBucket` classes star-reduces to its min-hash anchor class —
    *    identical recall trade-off to [[pHashClassPairsCapped]], which
    *    see. Below the cap the pair set is the exact band join's.
    *
    * Hamming is the sum over both 32-bit halves; the (hi, lo) pair
    * order is lexicographic, expressible identically in both engines
    * without touching a 64-bit sign bit. */
  def resampledClassPairsCapped(rh: DataFrame, maxHamming: Int,
                                maxBucket: Long): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4-band×16-bit pigeonhole recall needs maxHamming < 4")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val cls = Shingles.shared(
      rh.groupBy(col("ph_hi"), col("ph_lo"))
        .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("anchor")))
    val bands = Seq[(Int, org.apache.spark.sql.Column)](
      (0, col("ph_lo").bitwiseAND(lit(65535L))),
      (1, shiftright(col("ph_lo"), 16).bitwiseAND(lit(65535L))),
      (2, col("ph_hi").bitwiseAND(lit(65535L))),
      (3, shiftright(col("ph_hi"), 16).bitwiseAND(lit(65535L))))
    val banded = cls.select(col("ph_hi"), col("ph_lo"), col("n_imgs"),
        col("anchor"),
        explode(array(bands.map { case (b, v) =>
          struct(lit(b).as("band"), v.as("bv")) }: _*)).as("bb"))
      .select(col("ph_hi"), col("ph_lo"), col("n_imgs"), col("anchor"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    // anchor class = min struct((hi, lo), …): the hash is unique within
    // a bucket, so the struct min is the lexicographically first class
    val stats = banded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("ph_hi"), col("ph_lo"), col("n_imgs"),
          col("anchor"))).as("__a"))
    val tagged = banded.join(stats, Seq("band", "bv"))
    def ordered(hiA: Column, loA: Column, hiB: Column, loB: Column) =
      (hiA < hiB) || (hiA === hiB && loA < loB)
    val small = tagged.filter(col("__n") <= maxBucket)
    val allPairs = small
      .select(col("band"), col("bv"), col("ph_hi").as("ph_hi_a"),
        col("ph_lo").as("ph_lo_a"), col("n_imgs").as("n_a"),
        col("anchor").as("anchor_a"))
      .join(small.select(col("band"), col("bv"), col("ph_hi").as("ph_hi_b"),
        col("ph_lo").as("ph_lo_b"), col("n_imgs").as("n_b"),
        col("anchor").as("anchor_b")), Seq("band", "bv"))
      .filter(ordered(col("ph_hi_a"), col("ph_lo_a"),
        col("ph_hi_b"), col("ph_lo_b")))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(!(col("ph_hi") === col("__a.ph_hi") &&
        col("ph_lo") === col("__a.ph_lo")))
      // the anchor carries the bucket's lexicographic min, so a < b
      .select(col("__a.ph_hi").as("ph_hi_a"), col("__a.ph_lo").as("ph_lo_a"),
        col("ph_hi").as("ph_hi_b"), col("ph_lo").as("ph_lo_b"),
        col("__a.n_imgs").as("n_a"), col("n_imgs").as("n_b"),
        col("__a.anchor").as("anchor_a"), col("anchor").as("anchor_b"))
    allPairs
      .select(col("ph_hi_a"), col("ph_lo_a"), col("ph_hi_b"), col("ph_lo_b"),
        col("n_a"), col("n_b"), col("anchor_a"), col("anchor_b"))
      .union(star)
      .distinct()
      .withColumn("hamming",
        (bit_count(col("ph_hi_a").bitwiseXOR(col("ph_hi_b"))) +
         bit_count(col("ph_lo_a").bitwiseXOR(col("ph_lo_b")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  // ──────────────────────── audio path ────────────────────────
  //
  // Same discipline as the PNG path: a REAL codec round-trip on the
  // JDK's own `javax.sound.sampled` — genuine RIFF/WAVE bytes (header +
  // 8-bit unsigned mono PCM) are written into the binary column and
  // genuinely parsed back out, sample for sample (PCM is lossless).
  // Sample content derives from doc_id alone, so the DuckDB oracle
  // replays the arithmetic without a codec while the engine exercises
  // the true encode → binary-column → decode pipeline.

  case class WavBlob(doc_id: Long, payload: Array[Byte])
  case class AudioWindow(doc_id: Long, window_idx: Long, n_samples: Long,
                         sum_abs: Long, zero_crossings: Long)
  case class AudioFp(doc_id: Long, n_samples: Long, fp: Long)

  /** Audio CONTENT id: documents with doc_id ≡ 49 (mod 50) carry the
    * recording of doc_id − 24 (≡ 25 mod 50) — EXACT planted twins —
    * and documents with doc_id ≡ 37 (mod 50) carry doc_id − 24's
    * (≡ 13) recording with sample 5 bumped by +97 mod 256
    * ([[audioNearTwin]]) — NEAR twins, the synthetic stand-in for a
    * noisy re-encode: the one-sample bump shifts a handful of
    * sub-window band energies, and the sign-of-delta bits flip only
    * where the energy margin was smaller than the bump (measured over
    * 1,000 planted twins: 24% hamming 0, 68% hamming 1–3, tail ≤ 7) —
    * so most near twins land within the multi-band pair threshold
    * ([[graft.DedupKnobs.AudioMbMaxHamming]]) and a few legitimately
    * escape, exactly like real mild noise. Donors (≡ 25, ≡ 13) never
    * remap and are disjoint from the image donors (≡ 0, ≡ 19). */
  def audioContentId(id: Long): Long =
    if (id % 50 == 49 || id % 50 == 37) id - 24 else id

  /** True when the document carries the one-sample-bumped NEAR-twin
    * form of its donor's recording (see [[audioContentId]]). */
  def audioNearTwin(id: Long): Boolean = id % 50 == 37

  /** Deterministic 8-bit unsigned PCM derived from the CONTENT id:
    * n_samples = 32 + cid % 97,
    *   t = (cid·2654435761 + 7919i) mod 1000003
    *   u(i) = (t² mod 1000003) mod 256     (signed value u − 128)
    * — the pixel model's quadratic-residue mix (see [[pixel]]: the
    * square stops the document key from being a constant byte offset),
    * every intermediate far under 2⁶³ so the DuckDB oracle replays it
    * exactly. The round-12 entropy raise: the former
    * (cid·131 + 29i) mod 256 model had only 256·97 possible signals
    * corpus-wide, so even a production-width fingerprint saturated on
    * it (identical fingerprints stopped being duplication evidence);
    * the mixed model measures 499,941 distinct multi-band fingerprints
    * over 500k ids (max accidental class 2). */
  def audioSampleCount(id: Long): Int =
    (32 + audioContentId(id) % 97).toInt

  private def sampleU(cid: Long, i: Int): Int = {
    val t = (cid * 2654435761L + i * 7919L) % 1000003L
    ((t * t % 1000003L) % 256L).toInt
  }

  /** ENCODE: one genuine WAV per document (8 kHz, 8-bit unsigned mono —
    * the WAVE container's native 8-bit convention, which the JDK writer
    * requires) → (doc_id, payload: binary). */
  def wavPayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      // [[FastCodec.wavEncodePcmU8]] emits the canonical container —
      // BYTE-IDENTICAL to AudioSystem.write's output (spec-pinned) —
      // without the per-call AudioInputStream/provider plumbing
      it.map { id =>
        val cid = audioContentId(id)
        val ns = audioSampleCount(id)
        val raw = Array.tabulate[Byte](ns) { i =>
          val u = sampleU(cid, i)
          (if (audioNearTwin(id) && i == 5) (u + 97) % 256 else u).toByte
        }
        WavBlob(id, FastCodec.wavEncodePcmU8(raw, 8000))
      }
    }.toDF()
  }

  /** DECODE: parse the actual WAV stream (header AND PCM frames) back
    * to signed sample values — the direct RIFF chunk walk for the PCM
    * 8-bit mono shape, `AudioSystem` (with the same format guard) for
    * anything else ([[FastCodec.wavDecodeSignedAny]]). */
  private def decodeSigned(payload: Array[Byte]): Array[Int] =
    FastCodec.wavDecodeSignedAny(payload)

  /** Windowed audio features from the REAL WAV decode — the
    * feature-extraction stage of an audio pipeline (energy + zero
    * crossings per fixed `window`-sample hop, the classic VAD /
    * segmentation signals), batched per partition. One row per
    * (doc, window); the last window may be short (its true length is
    * emitted). Zero crossings count sign flips of consecutive samples
    * WITHIN the window (sign(x) = x ≥ 0), so windows are independently
    * recomputable — the property a chunked/streamed decoder needs. */
  def audioWindowFeatures(spark: SparkSession, payloads: DataFrame,
                          window: Int): DataFrame = {
    require(window >= 2, "a window below 2 samples has no crossings")
    import spark.implicits._
    payloads.as[WavBlob].mapPartitions { it =>
      it.flatMap { b =>
        val s = decodeSigned(b.payload)
        val nw = (s.length + window - 1) / window
        (0 until nw).iterator.map { w =>
          val st = w * window
          val en = math.min(st + window, s.length)
          var sa = 0L
          var zc = 0L
          var i = st
          while (i < en) {
            sa += math.abs(s(i))
            if (i > st && ((s(i) >= 0) != (s(i - 1) >= 0))) zc += 1
            i += 1
          }
          AudioWindow(b.doc_id, w.toLong, (en - st).toLong, sa, zc)
        }
      }
    }.toDF()
      .withColumn("mean_abs", graft.engine.Aggregates.round6Portable(
        col("sum_abs").cast("double") / col("n_samples")))
  }

  /** Energy-envelope fingerprint — Haitsma & Kalker 2002 ("A Highly
    * Robust Audio Fingerprinting System"): split the signal into
    * `subWindows` equal index ranges (sub(i) = ⌊i·S/n⌋ — length-relative,
    * so recordings of different lengths with the same envelope SHAPE
    * fingerprint identically), sum |sample| per range, and set bit k
    * when E(k+1) > E(k). The sign-of-energy-delta bit is the paper's
    * core robustness trick: amplitude scaling and mild noise preserve
    * deltas' signs. S−1 bits pack into one non-negative long. */
  def audioFingerprints(spark: SparkSession, payloads: DataFrame,
                        subWindows: Int): DataFrame = {
    require(subWindows >= 2 && subWindows <= 32, "1..31 fingerprint bits")
    import spark.implicits._
    payloads.as[WavBlob].mapPartitions { it =>
      it.map { b =>
        val s = decodeSigned(b.payload)
        val ns = s.length
        // DOMAIN GUARD (round 11): below `subWindows` samples some
        // sub-windows receive no sample at all. The engine fingerprints
        // them as E = 0 and compares ALL consecutive pairs, while the
        // oracle's eb/lead(e) chain only sees POPULATED sub-windows and
        // compares skip-adjacent ones at different bit indices — a
        // latent engine/oracle divergence. Unreachable on the fixtures
        // (n_samples >= 32 by construction), so fail LOUDLY at the
        // boundary instead of silently diverging past it.
        require(ns >= subWindows,
          s"audio fingerprint needs >= $subWindows samples, doc ${b.doc_id} has $ns")
        val e = new Array[Long](subWindows)
        var i = 0
        while (i < ns) {
          e((i.toLong * subWindows / ns).toInt) += math.abs(s(i))
          i += 1
        }
        var fp = 0L
        var k = 0
        while (k < subWindows - 1) {
          if (e(k + 1) > e(k)) fp |= (1L << k)
          k += 1
        }
        AudioFp(b.doc_id, ns.toLong, fp)
      }
    }.toDF()
  }

  case class AudioFpMb(doc_id: Long, n_samples: Long, fp_hi: Long,
                       fp_lo: Long)

  /** MULTI-BAND Haitsma-Kalker fingerprint — the production-width form
    * of [[audioFingerprints]] (the round-11 weak grade: ≤31 envelope
    * bits saturate at corpus scale; Haitsma & Kalker 2002 use a
    * 32-bit-per-frame multi-band matrix, 8,192 bits over a 3 s
    * excerpt). Per length-relative sub-window the signal is reduced to
    * `bands` FREQUENCY-PROXY band energies, each an integer-exact
    * comb-filter magnitude so the oracle replays it:
    *
    *  - band 0: Σ|s(i)| — the envelope (so `bands` = 1 reproduces
    *    [[audioFingerprints]]' bits exactly, spec-pinned);
    *  - band b ≥ 1: Σ|s(i) − s(i−b)| over i ≥ b — the lag-b first
    *    difference, a comb filter with response |2·sin(πfb)|: larger
    *    lags emphasize progressively lower frequencies, the cheap
    *    integer stand-in for the paper's Fourier band energies.
    *
    * Bit (k + b·(S−1)) is set when E(k+1, b) > E(k, b) — the paper's
    * sign-of-delta robustness trick per (sub-window, band) —
    * (S−1)·bands ≤ 64 bits packed into two non-negative 32-bit halves
    * (`fp_hi` bits 32.., `fp_lo` bits 0..31, the simHash64/resampled
    * convention), so the 4×16-bit class-pair machinery
    * ([[resampledClassPairsCapped]]) applies verbatim after a column
    * rename. Same domain guard as the envelope form: signals shorter
    * than `subWindows` samples would leave sub-windows empty on the
    * engine but absent from the oracle's lead() chain — fail loudly. */
  def audioFingerprintsMultiBand(spark: SparkSession, payloads: DataFrame,
                                 subWindows: Int, bands: Int): DataFrame = {
    require(subWindows >= 2 && subWindows <= 32,
      s"sub-window count must be 2..32, got $subWindows")
    require(bands >= 1 && (subWindows - 1) * bands <= 64,
      s"(subWindows-1)*bands must pack 64 bits, got " +
        s"${(subWindows - 1) * bands}")
    import spark.implicits._
    payloads.as[WavBlob].mapPartitions { it =>
      it.map { b =>
        val s = decodeSigned(b.payload)
        val ns = s.length
        require(ns >= subWindows,
          s"audio fingerprint needs >= $subWindows samples, " +
            s"doc ${b.doc_id} has $ns")
        val e = Array.ofDim[Long](bands, subWindows)
        var i = 0
        while (i < ns) {
          val sw = (i.toLong * subWindows / ns).toInt
          e(0)(sw) += math.abs(s(i))
          var bd = 1
          while (bd < bands) {
            if (i >= bd) e(bd)(sw) += math.abs(s(i) - s(i - bd))
            bd += 1
          }
          i += 1
        }
        var hi = 0L
        var lo = 0L
        var bd = 0
        while (bd < bands) {
          var k = 0
          while (k < subWindows - 1) {
            if (e(bd)(k + 1) > e(bd)(k)) {
              val bit = bd * (subWindows - 1) + k
              if (bit < 32) lo |= 1L << bit else hi |= 1L << (bit - 32)
            }
            k += 1
          }
          bd += 1
        }
        AudioFpMb(b.doc_id, ns.toLong, hi, lo)
      }
    }.toDF()
  }

  case class AudioFpWide(doc_id: Long, n_samples: Long, fp: Seq[Long])

  /** WIDE frame-matrix fingerprint — the ≥128-bit widening of
    * [[audioFingerprintsMultiBand]] for corpora where even 60 bits
    * birthday-collides (10⁹–10¹⁰ recordings): the same comb-filter
    * band energies, `bands` = 9 of them (envelope + lags 1..8), the
    * same sign-of-delta bit at matrix position (k + b·(S−1)) — now
    * 135 bits, packed into [[graft.DedupKnobs.AudioFpWideWords]]
    * words of [[graft.DedupKnobs.AudioFpWideWordBits]] bits
    * (doc_id, n_samples, w0..w8). The 15-bit word width tiles the
    * matrix exactly, so words 0..3 concatenated ARE the multi-band
    * fingerprint (fp_hi‖fp_lo) — the two forms agree bit for bit
    * where they overlap (spec-pinned). One decode pass per doc, like
    * every fingerprint arm. */
  def audioFingerprintsWide(spark: SparkSession, payloads: DataFrame,
                            subWindows: Int, bands: Int,
                            wordBits: Int): DataFrame = {
    require(subWindows >= 2 && subWindows <= 32,
      s"sub-window count must be 2..32, got $subWindows")
    require(bands >= 1 && wordBits >= 1 && wordBits <= 31,
      "word width must leave the sign bit untouched")
    val nBits = (subWindows - 1) * bands
    require(nBits % wordBits == 0,
      s"words must tile the bit matrix: $nBits bits / $wordBits per word")
    val words = nBits / wordBits
    import spark.implicits._
    val packed = payloads.as[WavBlob].mapPartitions { it =>
      it.map { b =>
        val s = decodeSigned(b.payload)
        val ns = s.length
        require(ns >= subWindows,
          s"audio fingerprint needs >= $subWindows samples, " +
            s"doc ${b.doc_id} has $ns")
        val e = Array.ofDim[Long](bands, subWindows)
        var i = 0
        while (i < ns) {
          val sw = (i.toLong * subWindows / ns).toInt
          e(0)(sw) += math.abs(s(i))
          var bd = 1
          while (bd < bands) {
            if (i >= bd) e(bd)(sw) += math.abs(s(i) - s(i - bd))
            bd += 1
          }
          i += 1
        }
        val wv = new Array[Long](words)
        var bd = 0
        while (bd < bands) {
          var k = 0
          while (k < subWindows - 1) {
            if (e(bd)(k + 1) > e(bd)(k)) {
              val bit = bd * (subWindows - 1) + k
              wv(bit / wordBits) |= 1L << (bit % wordBits)
            }
            k += 1
          }
          bd += 1
        }
        AudioFpWide(b.doc_id, ns.toLong, wv.toSeq)
      }
    }.toDF()
    packed.select(col("doc_id") +: col("n_samples") +:
      (0 until words).map(j => col("fp").getItem(j).as(s"w$j")): _*)
  }

  /** CLASS pairs over an N-WORD fingerprint — the
    * [[resampledClassPairsCapped]] machinery generalized from two
    * 32-bit halves to any word vector: classes key on the full word
    * tuple, candidates band per WORD (pigeonhole-exact recall for
    * hamming < |words|), per-bucket class populations over `maxBucket`
    * star-reduce to the bucket's lexicographic-min class, and every
    * emitted pair passes the exact summed-bit_count hamming verify.
    * Output: the two classes' word tuples (`<w>_a`/`<w>_b`), their
    * populations, min-doc anchors, and hamming. */
  def wideClassPairsCapped(fps: DataFrame, wordCols: Seq[String],
                           maxHamming: Int, maxBucket: Long): DataFrame = {
    require(wordCols.size >= 2, "a wide form needs at least two words")
    require(maxHamming >= 0 && maxHamming < wordCols.size,
      s"${wordCols.size}-word pigeonhole recall needs maxHamming < ${wordCols.size}")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val cls = Shingles.shared(
      fps.groupBy(wordCols.map(col): _*)
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("anchor")))
    val banded = cls
      .select(wordCols.map(col) ++ Seq(col("n_docs"), col("anchor"),
        explode(array(wordCols.zipWithIndex.map { case (c, j) =>
          struct(lit(j).as("band"), col(c).as("bv")) }: _*)).as("bb")): _*)
      .select(wordCols.map(col) ++ Seq(col("n_docs"), col("anchor"),
        col("bb.band").as("band"), col("bb.bv").as("bv")): _*)
    // the word tuple is unique per class, so the struct min is the
    // bucket's lexicographic-min class with its counts riding along
    val stats = banded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__n"),
        min(struct(wordCols.map(col) ++ Seq(col("n_docs"),
          col("anchor")): _*)).as("__a"))
    val tagged = banded.join(stats, Seq("band", "bv"))
    def side(suffix: String) = (df: DataFrame) => df.select(
      Seq(col("band"), col("bv")) ++
        wordCols.map(c => col(c).as(s"${c}_$suffix")) ++
        Seq(col("n_docs").as(s"n_$suffix"),
          col("anchor").as(s"anchor_$suffix")): _*)
    val small = tagged.filter(col("__n") <= maxBucket)
    val allPairs = side("a")(small).join(side("b")(small), Seq("band", "bv"))
      .filter(struct(wordCols.map(c => col(s"${c}_a")): _*) <
        struct(wordCols.map(c => col(s"${c}_b")): _*))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(struct(wordCols.map(col): _*) =!=
        struct(wordCols.map(c => col(s"__a.$c")): _*))
      // the anchor struct is the bucket's lexicographic min, so a < b
      .select(wordCols.map(c => col(s"__a.$c").as(s"${c}_a")) ++
        wordCols.map(c => col(c).as(s"${c}_b")) ++
        Seq(col("__a.n_docs").as("n_a"), col("n_docs").as("n_b"),
          col("__a.anchor").as("anchor_a"), col("anchor").as("anchor_b")): _*)
    val outCols = wordCols.map(c => s"${c}_a") ++ wordCols.map(c => s"${c}_b") ++
      Seq("n_a", "n_b", "anchor_a", "anchor_b")
    allPairs.select(outCols.map(col): _*)
      .union(star.select(outCols.map(col): _*))
      .distinct()
      .withColumn("hamming",
        wordCols.map(c => bit_count(col(s"${c}_a").bitwiseXOR(col(s"${c}_b"))))
          .reduce(_ + _).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Audio near-dup CLASS pairs over the envelope fingerprint, capped
    * from day one — completes the multimodal dedup family (image native
    * [[pHashClassPairs]], image resampled [[resampledClassPairsCapped]],
    * audio here). Classes key on the fingerprint ALONE (n_samples
    * deliberately absent: the length-relative sub-windows exist so
    * different-length recordings can match). 2 bands × 8 bits give
    * exact recall at hamming ≤ 1 by pigeonhole; buckets over
    * `maxBucket` star-reduce to their min-fp anchor class (the
    * [[graft.operators.NearDup.simHashPairsCapped]] argument — CC needs
    * connectivity, not every pairwise edge). Every emitted edge still
    * passes the exact hamming verify. */
  def audioClassPairsCapped(fps: DataFrame, maxHamming: Int,
                            maxBucket: Long): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 2,
      "2-band×8-bit pigeonhole recall needs maxHamming < 2")
    require(maxBucket >= 2, "maxBucket must be at least 2")
    val cls = Shingles.shared(
      fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("anchor")))
    val banded = cls.select(col("fp"), col("n_docs"), col("anchor"),
        explode(array(
          struct(lit(0).as("band"),
            col("fp").bitwiseAND(lit(255L)).as("bv")),
          struct(lit(1).as("band"),
            shiftright(col("fp"), 8).bitwiseAND(lit(255L)).as("bv"))))
          .as("bb"))
      .select(col("fp"), col("n_docs"), col("anchor"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    // fp is unique within a bucket, so the struct min is the bucket's
    // min-fp class with its own counts riding along
    val stats = banded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("fp"), col("n_docs"), col("anchor"))).as("__a"))
    val tagged = banded.join(stats, Seq("band", "bv"))
    val small = tagged.filter(col("__n") <= maxBucket)
    val allPairs = small
      .select(col("band"), col("bv"), col("fp").as("fp_a"),
        col("n_docs").as("n_a"), col("anchor").as("anchor_a"))
      .join(small.select(col("band"), col("bv"), col("fp").as("fp_b"),
        col("n_docs").as("n_b"), col("anchor").as("anchor_b")),
        Seq("band", "bv"))
      .filter(col("fp_a") < col("fp_b"))
    val star = tagged.filter(col("__n") > maxBucket)
      .filter(col("fp") =!= col("__a.fp"))
      // the anchor carries the bucket's min fp, so a < b holds
      .select(col("__a.fp").as("fp_a"), col("fp").as("fp_b"),
        col("__a.n_docs").as("n_a"), col("n_docs").as("n_b"),
        col("__a.anchor").as("anchor_a"), col("anchor").as("anchor_b"))
    allPairs
      .select(col("fp_a"), col("fp_b"), col("n_a"), col("n_b"),
        col("anchor_a"), col("anchor_b"))
      .union(star)
      .distinct()
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** DOC-level within-class edges of a fingerprint-CLASS dedup arm:
    * every class member connects to its class representative (the min
    * doc_id) — |members| − |classes| edges, linear, never the
    * member×member expansion. Together with a class-pair table's
    * (anchor_a, anchor_b) representative edges this projects a whole
    * class-level dedup arm (image q203, audio q207) onto the document
    * graph: connectivity is preserved (CC needs a spanning set, not
    * every pairwise edge — the star-reduction argument), so a
    * cross-modality union of such edge sets clusters documents that
    * are duplicates under ANY modality.
    *
    * `maxClass` is the SATURATION guard, and it is load-bearing: a
    * fingerprint class whose population exceeds it emits NO edges.
    * Unlike the band-bucket star caps (where over-cap members are
    * still hamming-VERIFIED against the anchor), a same-fingerprint
    * class carries no further verification — when the fingerprint's
    * value space is small relative to the corpus (a 15-bit audio
    * envelope over 10⁵ docs — measured: 1,134 distinct fps with
    * 500-member birthday classes at sf10), identical fingerprints stop
    * being evidence of duplication and a wholesale projection
    * PERCOLATES: the first sf10 multimodal curate() collapsed 114,890
    * exact survivors into ONE near-dup cluster. Over-cap classes are
    * saturation evidence, surfaced for audit (the class tables report
    * them), never collapsed. */
  /** INCREMENTAL form of the 64-bit class dedup arm — the edges a
    * full ([[classMemberEdges]] ∪ [[resampledClassPairsCapped]]) run
    * over (corpus ∪ batch) would ADD, i.e. exactly its doc-level
    * edges touching at least one batch document, WITHOUT re-pairing
    * the corpus (the class-level twin of
    * [[graft.operators.NearDup.incrementalSimhashPairsCapped]]):
    *
    *  - WITHIN-CLASS member edges: the union census per batch-touched
    *    class (corpus count + batch count) gates the saturation
    *    quarantine, the representative is the union-min doc (the
    *    corpus rep whenever corpus members exist — monotone ids), and
    *    only batch members emit their (rep, member) edge; corpus
    *    members' edges are landed truth.
    *  - CLASS-PAIR edges: only batch-NEW classes (no corpus member)
    *    can add class pairs — an existing class's key set is
    *    unchanged, so its pairs are landed. New classes band 4×16
    *    against the corpus's (staged) banded class table plus each
    *    other under the UNION bucket census; over-cap buckets
    *    star-reduce to the union's lexicographic-min class exactly
    *    like the full generator (when that anchor is itself NEW, the
    *    full rerun's star edges from it to the bucket's CORPUS
    *    classes are emitted too — they touch a batch doc via the new
    *    anchor). Every edge is hamming-verified.
    *
    * CONTRACT: every batch doc_id must exceed every corpus doc_id
    * (monotone ingest ids), so union class reps and min-doc anchors
    * never migrate from corpus to batch. Input schema both sides:
    * (doc_id, ph_hi, ph_lo) — rename audio fp_hi/fp_lo before the
    * call, as [[graft.Pipeline.multimodalPairs]] does for the full
    * form. Output: (doc_a, doc_b) doc-level edges, a < b. */
  def incrementalClassEdgesCapped(corpusFps: DataFrame, batchFps: DataFrame,
                                  maxHamming: Int, maxClass: Long): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4-band×16-bit pigeonhole recall needs maxHamming < 4")
    require(maxClass >= 2, "maxClass must be at least 2")
    val keys = Seq("ph_hi", "ph_lo")
    // corpus class table — staged once per corpus (every batch after
    // the first probes the landed table)
    val cCls = Shingles.shared(
      corpusFps.groupBy(col("ph_hi"), col("ph_lo"))
        .agg(count(lit(1)).as("__nc"), min(col("doc_id")).as("__ac")))
    val bCls = batchFps.groupBy(col("ph_hi"), col("ph_lo"))
      .agg(count(lit(1)).as("__nb"), min(col("doc_id")).as("__ab"))
    // union census per batch-touched class; rep = corpus rep when the
    // class pre-exists (smaller ids by contract)
    val uCls = bCls.join(cCls, keys, "left")
      .select(col("ph_hi"), col("ph_lo"),
        (col("__nb") + coalesce(col("__nc"), lit(0L))).as("__n"),
        coalesce(col("__ac"), col("__ab")).as("__rep"),
        col("__ab"),
        (coalesce(col("__nc"), lit(0L)) === 0).as("__isNew"))
    val member = batchFps
      .join(uCls.filter(col("__n") <= maxClass), keys)
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
    // ── class-pair half: batch-new classes only ──
    val bandCols = Seq[(Int, Column)](
      (0, col("ph_lo").bitwiseAND(lit(65535L))),
      (1, shiftright(col("ph_lo"), 16).bitwiseAND(lit(65535L))),
      (2, col("ph_hi").bitwiseAND(lit(65535L))),
      (3, shiftright(col("ph_hi"), 16).bitwiseAND(lit(65535L))))
    def banded(cls: DataFrame): DataFrame = cls
      .select(col("ph_hi"), col("ph_lo"), col("anchor"),
        explode(array(bandCols.map { case (b, v) =>
          struct(lit(b).as("band"), v.as("bv")) }: _*)).as("bb"))
      .select(col("ph_hi"), col("ph_lo"), col("anchor"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    val cBanded = Shingles.shared(
      banded(cCls.select(col("ph_hi"), col("ph_lo"), col("__ac").as("anchor"))))
    // per-bucket corpus census: class count + lexicographic-min class
    // ((hi, lo) unique per class, so the struct min is the full
    // generator's anchor-class rule)
    val cStats = Shingles.shared(cBanded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__nbc"),
        min(struct(col("ph_hi"), col("ph_lo"), col("anchor"))).as("__abc")))
    val newCls = bCls.join(cCls, keys, "left_anti")
      .select(col("ph_hi"), col("ph_lo"), col("__ab").as("anchor"))
    val nBanded = banded(newCls)
    val nStats = nBanded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__nbb"),
        min(struct(col("ph_hi"), col("ph_lo"), col("anchor"))).as("__abb"))
    // union bucket census over batch-touched buckets; the union anchor
    // is the lexicographic min over BOTH sides' classes
    val uStats = nStats.join(cStats, Seq("band", "bv"), "left")
      .select(col("band"), col("bv"),
        (col("__nbb") + coalesce(col("__nbc"), lit(0L))).as("__n"),
        when(col("__nbc").isNotNull && col("__abc") < col("__abb"),
          col("__abc")).otherwise(col("__abb")).as("__a"),
        (col("__nbc").isNull || col("__abb") < col("__abc"))
          .as("__anchorIsNew"))
    val taggedN = nBanded.join(uStats, Seq("band", "bv"))
    def ham(hiA: Column, loA: Column, hiB: Column, loB: Column) =
      (bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB)))
        .cast("long")
    val smallN = taggedN.filter(col("__n") <= maxClass)
    // new-vs-corpus all-pairs (bucket under the union cap)
    val nvc = smallN
      .select(col("band"), col("bv"), col("ph_hi").as("hi_n"),
        col("ph_lo").as("lo_n"), col("anchor").as("an_n"))
      .join(cBanded.select(col("band"), col("bv"), col("ph_hi").as("hi_c"),
        col("ph_lo").as("lo_c"), col("anchor").as("an_c")), Seq("band", "bv"))
      .filter(ham(col("hi_n"), col("lo_n"), col("hi_c"), col("lo_c"))
        <= maxHamming)
      .select(least(col("an_n"), col("an_c")).as("doc_a"),
        greatest(col("an_n"), col("an_c")).as("doc_b"))
    // new-vs-new all-pairs, lex-ordered to emit each pair once
    val nvn = smallN
      .select(col("band"), col("bv"), col("ph_hi").as("hi_x"),
        col("ph_lo").as("lo_x"), col("anchor").as("an_x"))
      .join(smallN.select(col("band"), col("bv"), col("ph_hi").as("hi_y"),
        col("ph_lo").as("lo_y"), col("anchor").as("an_y")), Seq("band", "bv"))
      .filter((col("hi_x") < col("hi_y")) ||
        (col("hi_x") === col("hi_y") && col("lo_x") < col("lo_y")))
      .filter(ham(col("hi_x"), col("lo_x"), col("hi_y"), col("lo_y"))
        <= maxHamming)
      .select(least(col("an_x"), col("an_y")).as("doc_a"),
        greatest(col("an_x"), col("an_y")).as("doc_b"))
    // over-cap buckets: star every NEW class to the union anchor …
    val bigN = taggedN.filter(col("__n") > maxClass)
      .filter(!(col("ph_hi") === col("__a.ph_hi") &&
        col("ph_lo") === col("__a.ph_lo")))
      .filter(ham(col("__a.ph_hi"), col("__a.ph_lo"),
        col("ph_hi"), col("ph_lo")) <= maxHamming)
      .select(least(col("__a.anchor"), col("anchor")).as("doc_a"),
        greatest(col("__a.anchor"), col("anchor")).as("doc_b"))
    // … and when the union anchor is itself NEW, the full rerun also
    // stars the bucket's CORPUS classes to it — those edges touch a
    // batch doc (the new anchor), so the increment owns them
    val bigC = cBanded
      .join(uStats.filter(col("__n") > maxClass && col("__anchorIsNew")),
        Seq("band", "bv"))
      .filter(ham(col("__a.ph_hi"), col("__a.ph_lo"),
        col("ph_hi"), col("ph_lo")) <= maxHamming)
      .select(least(col("__a.anchor"), col("anchor")).as("doc_a"),
        greatest(col("__a.anchor"), col("anchor")).as("doc_b"))
    member.union(nvc).union(nvn).union(bigN).union(bigC).distinct()
  }

  def classMemberEdges(fps: DataFrame, keys: Seq[String],
                       maxClass: Long = Long.MaxValue): DataFrame = {
    require(maxClass >= 2, "a class cap below 2 admits no edges at all")
    val reps = fps.groupBy(keys.map(col): _*)
      .agg(min(col("doc_id")).as("__rep"), count(lit(1)).as("__n"))
      .filter(col("__n") <= maxClass)
    fps.join(reps, keys)
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
  }

  /** SATURATION census of a dedup fingerprint signal — the round-11
    * percolation lesson ([[classMemberEdges]] doc) as a REPORT a
    * campaign reads BEFORE clustering: one row with the signal's item
    * count, distinct-class count, and largest class population, plus
    * the saturated verdict against the cap the dedup projection would
    * use. A signal whose max_class exceeds the cap (or whose n_classes
    * is tiny relative to n_items) has too little entropy for
    * identity-on-signal dedup at this corpus size — widen the
    * fingerprint or quarantine the arm. One hash agg over the
    * fingerprint table, then a single-row rollup: census-sized at any
    * corpus. */
  def signalSaturation(fps: DataFrame, keys: Seq[String], name: String,
                       cap: Long): DataFrame =
    fps.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_items"),
        count(lit(1)).as("n_classes"),
        coalesce(max(col("__n")), lit(0L)).as("max_class"))
      .select(lit(name).as("signal"), col("n_items"), col("n_classes"),
        col("max_class"), (col("max_class") > cap).as("saturated"))

  /** One sampled frame: index in the stream, byte offset, byte length.
    * A real decoder would add the decoded tensor / thumbnail bytes. */
  case class Frame(frame_idx: Long, offset: Long, n_bytes: Long)

  case class SampledFrames(doc_id: Long, n_frames: Long, n_sampled: Long,
                           sampled_bytes: Long, frames: Seq[Frame])

  /** Video-path plumbing: treat the payload as a fixed-`frameSize` frame
    * stream and keep every `every`-th frame — the frame-sampling stage of
    * a video pipeline, with the codec stubbed to byte-range arithmetic
    * (a real build seeks keyframes; the schema, nested frame array, and
    * per-partition batch shape are the real thing). Nested output:
    * `frames` is an ArrayType of structs, the layout a downstream
    * embed-or-caption stage consumes. */
  def sampleFrames(spark: SparkSession, docs: DataFrame,
                   frameSize: Int, every: Int): DataFrame = {
    require(frameSize > 0 && every > 0)
    import spark.implicits._
    withPayload(docs).as[Blob].mapPartitions { it =>
      it.map { b =>
        val n = b.payload.length.toLong
        val nf = (n + frameSize - 1) / frameSize
        val frames = (0L until nf by every.toLong).map { i =>
          Frame(i, i * frameSize, math.min(frameSize.toLong, n - i * frameSize))
        }
        SampledFrames(b.doc_id, nf, frames.size.toLong,
          frames.map(_.n_bytes).sum, frames)
      }
    }.toDF()
  }
}
