package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Video CONTENT identity over the certified MJPEG decode — the two
  * operations a video curation pipeline runs once frames decode:
  *
  *  - SHOT SEGMENTATION (`multimodal_shot_bounds`): per decoded frame,
  *    a 56-bit difference hash over an 8×8 box-filtered luma grid (the
  *    [[ImageFeatures]] dHash discipline applied to video frames,
  *    streaming — O(grid) per frame, no raster and no frame-hash list
  *    is ever materialized); a shot boundary is a Hamming JUMP
  *    (> [[VideoShots.ShotHamming]] bits) between consecutive frames.
  *  - Per-shot representative FEATURES (`multimodal_shot_features`):
  *    mean r/g/b over each detected shot's frames — the row a
  *    vision-model curation pipeline actually trains on.
  *  - Clip-level NEAR-DUP (`dedup_video_neardup`): the video half of
  *    the dedup tier — each clip's fingerprint is its detected
  *    shot-hash SEQUENCE; banding on the (first, middle, last) shot
  *    hashes (capped buckets, the MinHash-LSH discipline) generates
  *    candidates, and an aligned per-shot Hamming sum verifies.
  *
  * Fixture (shot-structured AVIs around real JPEG streams,
  * [[Mjpeg.buildAvi]]): clip `id` has 1 + id%3 shots of 2 + (id+j)%2
  * frames; every frame of shot j encodes JPEG fixture id·8+j — frames
  * within a shot are pixel-identical but BYTE-DISTINCT (alternating
  * DRI headers), so a bytes-hash would split every shot and only a
  * decoded-content hash finds the structure. Every 7th clip also
  * appears RE-TIMED (same shots, different per-shot frame counts —
  * the re-encoded/re-sampled duplicate) under a shifted media_id: its
  * shot-hash sequence is identical, so the near-dup pairing must
  * recover exactly these plants. The oracle replays every pixel, hash
  * bit, boundary, band and alignment analytically from the JPEG
  * coefficient law ([[JpegCodec.coefQ]]) — the Spark side must
  * actually walk the RIFF tree and entropy-decode the frames.
  *
  * Scale shape: decode+hash+segment is ONE per-row mapPartitions pass
  * (each frame decodes into 64 cell sums and dies; per-clip state is
  * the previous frame hash plus the open shot's accumulators); the
  * near-dup join ships 3 bands × 8 bytes per clip, never payloads —
  * at 100 TB of video the pairing input is MB-scale per million clips.
  */
object VideoShots {

  /** Shot-boundary Hamming threshold (56-bit hashes: unrelated frames
    * differ on ~28 bits, in-shot re-encodes on ~0).
    */
  private val ShotHamming = 10

  /** Verified-pair total aligned Hamming budget. */
  private val VerifyHamming = 10L

  /** Per-band bucket cap (degenerate-content guard, e.g. black-frame
    * clips sharing a band hash — surfaced instead of joined n²).
    */
  private val MaxBucketSize = 64L

  /** media_id offset of the planted re-timed copies. */
  private val DupBase = 10000000L

  private val GridW = 8
  private val GridH = 8

  final case class ShotRow(
      media_id: Long,
      n_shots: Long,
      shot_idx: Long,
      start_frame: Long,
      n_frames: Long,
      shot_hash: Long,
      mean_r_c: Long,
      mean_g_c: Long,
      mean_b_c: Long
  )

  // ---------------------------------------------------------------
  // Fixture: shot-structured AVIs.
  // ---------------------------------------------------------------

  private[graft] def lawShots(id: Long): Int = (1 + id % 3).toInt
  private[graft] def lawLen(id: Long, j: Int, retimed: Boolean): Int =
    (2 + (id + j + (if (retimed) 1 else 0)) % 2).toInt
  private[graft] def shotFixtureId(id: Long, j: Int): Long = id * 8 + j

  /** `fidOff` shifts every shot's JPEG fixture id (unseen content for
    * the incremental batch's NOVEL clips — shot ids stay < 8 per
    * clip); `skipFirst` drops shot 0's frames entirely (the trimmed /
    * partial-copy plant the segment-overlap query must still find).
    */
  private[graft] def encodeShotAvi(
      id: Long,
      retimed: Boolean,
      fidOff: Int = 0,
      skipFirst: Boolean = false
  ): Array[Byte] = {
    val j0 = if (skipFirst) 1 else 0
    val frames = (j0 until lawShots(id)).flatMap { j =>
      val jpeg = (dri: Int) => JpegCodec.encodeJpeg(shotFixtureId(id, j) + fidOff, 8, 8, dri)
      // pixel-identical, byte-distinct in-shot frames (alternating DRI)
      (0 until lawLen(id, j, retimed)).map(f => jpeg(if (f % 2 == 1) 2 else 0))
    }
    Mjpeg.buildAvi(id, frames, 8, 8, truncate = !retimed && !skipFirst && id % 53 == 0 && id > 0)
  }

  def clipTable(s: SparkSession, d: String): Dataset[DeflateMedia.MediaRow] = {
    import s.implicits._
    Tables
      .documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val base = DeflateMedia.MediaRow(id, encodeShotAvi(id, retimed = false))
        val dup =
          if (id % 7 == 2)
            Seq(DeflateMedia.MediaRow(id + DupBase, encodeShotAvi(id, retimed = true)))
          else Nil
        // trimmed partial copy: shots 1..n-1 of a multi-shot clip — a
        // SEGMENT duplicate full-clip near-dup must NOT pair (unequal
        // shot counts) and shot-overlap must find
        val trim =
          if (id % 9 == 5 && id % 3 != 0)
            Seq(DeflateMedia.MediaRow(id + TrimBase, encodeShotAvi(id, retimed = false, skipFirst = true)))
          else Nil
        Iterator(base) ++ dup ++ trim
      })
  }

  /** media_id offsets of the trimmed plants and the incremental
    * batch's novel clips.
    */
  private val TrimBase = 20000000L
  private val NovelBase = 30000000L

  /** Incremental-batch fixture: the re-timed copies (must adopt their
    * source clip) plus NOVEL clips with unseen shot content (fixture
    * ids offset by 4 — must start their own identity).
    */
  def batchClipTable(s: SparkSession, d: String): Dataset[DeflateMedia.MediaRow] = {
    import s.implicits._
    Tables
      .documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val dup =
          if (id % 7 == 2)
            Seq(DeflateMedia.MediaRow(id + DupBase, encodeShotAvi(id, retimed = true)))
          else Nil
        val novel =
          if (id % 13 == 6)
            Seq(DeflateMedia.MediaRow(id + NovelBase, encodeShotAvi(id, retimed = false, fidOff = 4)))
          else Nil
        (dup ++ novel).iterator
      })
  }

  /** Corpus side of the incremental fixture: base clips only. */
  def corpusClipTable(s: SparkSession, d: String): Dataset[DeflateMedia.MediaRow] = {
    import s.implicits._
    Tables
      .documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map(id => DeflateMedia.MediaRow(id, encodeShotAvi(id, retimed = false))))
  }

  // ---------------------------------------------------------------
  // Decoder: one pass — RIFF walk, per-frame JPEG decode into an 8×8
  // box grid, dHash, Hamming-jump segmentation.
  // ---------------------------------------------------------------

  /** 56-bit difference hash of one frame's 8×8 box-filtered gray grid:
    * bit py·7+px set iff cell (py, px) is strictly darker than its
    * right neighbor. Gray is the raw r+g+b sum (no division — exact).
    */
  private def gridHash(cellG: Array[Long]): Long = {
    var hash = 0L
    var py = 0
    while (py < GridH) {
      var px = 0
      while (px < GridW - 1) {
        if (cellG(py * GridW + px) < cellG(py * GridW + px + 1))
          hash |= 1L << (py * (GridW - 1) + px)
        px += 1
      }
      py += 1
    }
    hash
  }

  /** Frame dims from the JPEG SOF header — needed BEFORE the pixel
    * callback runs so the streaming box-filter can bin pixels into
    * grid cells (decodeCore only reports dims at return).
    */
  private def sofDims(f: Array[Byte]): Option[(Int, Int)] =
    try {
      def u8(o: Int): Int = f(o) & 0xff
      def u16(o: Int): Int = (u8(o) << 8) | u8(o + 1)
      if (f.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
      var pos = 2
      while (pos + 4 <= f.length) {
        if (u8(pos) != 0xff) return None
        val mk = u8(pos + 1)
        if (mk == 0xc0 || mk == 0xc1) return Some((u16(pos + 7), u16(pos + 5)))
        else if (mk >= 0xd0 && mk <= 0xd9) pos += 2
        else pos += 2 + u16(pos + 2)
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }

  private[graft] def decodeShots(mediaId: Long, p: Array[Byte]): Option[Seq[ShotRow]] =
    try {
      def u32(o: Int): Long =
        (0 to 3).foldLeft(0L)((a, i) => a | ((p(o + i) & 0xffL) << (8 * i)))
      def cc(o: Int): String = new String(p, o, 4, "US-ASCII")
      if (p.length < 12 || cc(0) != "RIFF" || cc(8) != "AVI ") return None
      val riffEnd = 8 + u32(4)
      if (riffEnd > p.length) return None
      var declared = -1L
      var handler = ""
      var nFrames = 0L
      var w = -1
      var h = -1
      var bad = false
      // open-shot accumulators + previous frame hash
      val shots = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
      var prevHash = 0L
      var haveFrame = false
      var shotStart = 0L
      var shotFrames = 0L
      var shotHash = 0L
      var sr = 0L; var sg = 0L; var sb = 0L
      val cellSum = new Array[Long](GridW * GridH)
      val cellN = new Array[Long](GridW * GridH)
      val cellG = new Array[Long](GridW * GridH)
      def closeShot(): Unit =
        if (shotFrames > 0) shots += ((shotStart, shotFrames, shotHash, sr, sg, sb))
      // per decoded frame: hash the grid, detect a boundary, accumulate
      def decodedFrame(fr: Long, fg: Long, fb: Long): Unit = {
        var i = 0
        while (i < cellG.length) {
          cellG(i) = if (cellN(i) > 0) cellSum(i) / cellN(i) else 0L
          i += 1
        }
        val hash = gridHash(cellG)
        if (!haveFrame || java.lang.Long.bitCount(hash ^ prevHash) > ShotHamming) {
          closeShot()
          shotStart = nFrames
          shotFrames = 0L
          shotHash = hash
          sr = 0L; sg = 0L; sb = 0L
        }
        shotFrames += 1
        sr += fr; sg += fg; sb += fb
        prevHash = hash
        haveFrame = true
        nFrames += 1
      }
      def walk(from: Int, to: Int, depth: Int): Boolean = {
        var pos = from
        while (pos < to && !bad) {
          if (pos + 8 > to) return false
          val id = cc(pos)
          val size = u32(pos + 4)
          val body = pos + 8
          if (body + size > to) return false
          if (id == "LIST") {
            if (size < 4 || depth > 8) return false
            if (!walk(body + 4, body + size.toInt, depth + 1)) return false
          } else if (id == "avih") {
            if (size < 32) return false
            declared = u32(body + 16)
          } else if (id == "strh") {
            if (size < 8) return false
            if (cc(body) == "vids" && handler.isEmpty) handler = cc(body + 4)
          } else if (id.length == 4 && id.substring(2) == "dc") {
            val frame = java.util.Arrays.copyOfRange(p, body, body + size.toInt)
            // dims up front (SOF pre-scan) so the streaming box-filter
            // can bin; decodeCore's returned dims must agree.
            sofDims(frame) match {
              case Some((fw, fh)) =>
                if (w < 0) { w = fw; h = fh }
                if (fw != w || fh != h || fw < GridW || fh < GridH) bad = true
              case None => bad = true
            }
            if (!bad) {
              java.util.Arrays.fill(cellSum, 0L)
              java.util.Arrays.fill(cellN, 0L)
              var fr = 0L; var fg = 0L; var fb = 0L
              JpegCodec.decodeCore(frame) { (x, y, r, g, b) =>
                // streaming box-filter: each pixel lands in one grid cell
                val cx = x * GridW / w
                val cy = y * GridH / h
                val c = cy * GridW + cx
                if (cx < GridW && cy < GridH) {
                  cellSum(c) += r + g + b
                  cellN(c) += 1
                }
                fr += r; fg += g; fb += b
              } match {
                case Some((dw, dh)) => if (dw != w || dh != h) bad = true
                case None => bad = true
              }
              if (!bad) decodedFrame(fr, fg, fb)
            }
          }
          pos = body + size.toInt + (size % 2).toInt
        }
        !bad
      }
      if (!walk(12, riffEnd.toInt, 0)) return None
      if (handler != "MJPG") return None
      if (nFrames < 1 || declared != nFrames || w < GridW || h < GridH) return None
      closeShot()
      val nShots = shots.length.toLong
      val px = w.toLong * h
      Some(shots.zipWithIndex.map { case ((st, nf, hh, r, g, b), idx) =>
        ShotRow(mediaId, nShots, idx.toLong, st, nf, hh,
          r * 100 / (px * nf), g * 100 / (px * nf), b * 100 / (px * nf))
      }.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }

  def shotTable(media: Dataset[DeflateMedia.MediaRow]): Dataset[ShotRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(m => decodeShots(m.media_id, m.payload).getOrElse(Nil)))
  }

  // ---------------------------------------------------------------
  // Clip-level near-dup over the shot-hash sequences.
  // ---------------------------------------------------------------

  /** Banded pairing: 3 fingerprint bands per clip (first / middle /
    * last detected shot hash) → capped bucket equi-join → aligned
    * per-shot exact Hamming verification (equal shot counts, every
    * index aligned, total ≤ [[VerifyHamming]]).
    */
  def nearDupOf(shots: DataFrame): DataFrame = {
    // The shot table is ≤ a few rows × 24 B per clip and feeds the
    // fingerprint aggregate plus both verify sides — checkpoint once
    // so the decode pipeline never replays per branch (the
    // ImageFeatures.nearDupOf discipline; released via releaseHeld).
    val st = graft.Lineage.checkpoint(shots).df
    val fp = st
      .groupBy(col("media_id"), col("n_shots"))
      .agg(
        max(when(col("shot_idx") === 0, col("shot_hash"))).as("h0"),
        max(when(col("shot_idx") === col("n_shots") - 1, col("shot_hash"))).as("h1"),
        max(when(col("shot_idx") === expr("n_shots div 2"), col("shot_hash"))).as("h2")
      )
    val bands = fp.select(
      col("media_id"),
      explode(
        array(
          struct(lit(0L).as("b"), col("h0").as("v")),
          struct(lit(1L).as("b"), col("h1").as("v")),
          struct(lit(2L).as("b"), col("h2").as("v"))
        )
      ).as("band")
    ).select(col("media_id"), col("band.b").as("b"), col("band.v").as("v"))
    val light = Skew.capHeavy(bands, Seq("b", "v"), MaxBucketSize)
    val cand = light
      .select(col("b"), col("v"), col("media_id").as("media_a"))
      .join(light.select(col("b"), col("v"), col("media_id").as("media_b")), Seq("b", "v"))
      .filter(col("media_a") < col("media_b"))
      .select("media_a", "media_b")
      .distinct()
    val sa = st.select(
      col("media_id").as("media_a"),
      col("n_shots").as("ns_a"),
      col("shot_idx"),
      col("shot_hash").as("ha")
    )
    val sb = st.select(
      col("media_id").as("media_b"),
      col("n_shots").as("ns_b"),
      col("shot_idx"),
      col("shot_hash").as("hb")
    )
    cand
      .join(sa, Seq("media_a"))
      .join(sb, Seq("media_b", "shot_idx"))
      .groupBy(col("media_a"), col("media_b"), col("ns_a"), col("ns_b"))
      .agg(
        count(lit(1)).as("n_aligned"),
        sum(expr("cast(bit_count(ha ^ hb) as long)")).as("total_hamming")
      )
      .filter(
        col("ns_a") === col("ns_b") && col("n_aligned") === col("ns_a") &&
          col("total_hamming") <= VerifyHamming
      )
      .select(col("media_a"), col("media_b"), col("ns_a").as("n_shots"), col("total_hamming"))
  }

  /** SEGMENT-copy detection — the containment complement of
    * [[nearDupOf]] (the docs_containment_pairs idea on the time axis):
    * clips sharing individual shot HASHES pair regardless of shot
    * counts, so a trimmed / spliced partial copy is found where the
    * full-clip fingerprint (equal-count check) correctly refuses to
    * pair. Heavy shot hashes (degenerate flat content) are capped out
    * of pair generation, the banding discipline.
    */
  def shotOverlapOf(shots: DataFrame): DataFrame = {
    val st = graft.Lineage.checkpoint(shots).df
    val hs = st.select(col("media_id"), col("n_shots"), col("shot_hash")).distinct()
    val light = Skew.capHeavy(hs, Seq("shot_hash"), MaxBucketSize)
    light
      .select(col("shot_hash"), col("media_id").as("media_a"), col("n_shots").as("n_shots_a"))
      .join(
        light.select(col("shot_hash"), col("media_id").as("media_b"), col("n_shots").as("n_shots_b")),
        Seq("shot_hash")
      )
      .filter(col("media_a") < col("media_b"))
      .groupBy("media_a", "media_b", "n_shots_a", "n_shots_b")
      .agg(countDistinct(col("shot_hash")).as("n_shared"))
  }

  /** Incremental assignment — the daily-delta production shape for the
    * video family (the [[LlmQueries8.neardupIncremental]] contract):
    * the corpus's shot table is STORED state (history is never
    * re-decoded); each batch clip decodes once, its bands equi-join
    * the corpus fingerprints (corpus-side heavy-band cap), aligned
    * Hamming verifies, and a matching clip adopts the EARLIEST (min)
    * matching corpus id; novel clips keep their own identity.
    * Returns (media_id, matched_media, is_new) per batch clip.
    */
  def nearDupIncrementalOf(batchShots: DataFrame, corpusShots: DataFrame): DataFrame =
    nearDupIncrementalIndexed(batchShots, neardupIndexOf(corpusShots))

  /** Per-clip fingerprint bands (first / middle / last detected shot
    * hash) from a shot table.
    */
  private def bandsOf(st: DataFrame): DataFrame = st
    .groupBy(col("media_id"), col("n_shots"))
    .agg(
      max(when(col("shot_idx") === 0, col("shot_hash"))).as("h0"),
      max(when(col("shot_idx") === col("n_shots") - 1, col("shot_hash"))).as("h1"),
      max(when(col("shot_idx") === expr("n_shots div 2"), col("shot_hash"))).as("h2")
    )
    .select(
      col("media_id"),
      explode(
        array(
          struct(lit(0L).as("b"), col("h0").as("v")),
          struct(lit(1L).as("b"), col("h1").as("v")),
          struct(lit(2L).as("b"), col("h2").as("v"))
        )
      ).as("band")
    )
    .select(col("media_id"), col("band.b").as("b"), col("band.v").as("v"))

  /** Prebuilt, persisted corpus-side index for incremental matching —
    * the [[LlmQueries8.NeardupIndex]] discipline: a long-running
    * stream builds this ONCE (corpus shots checkpointed, capped band
    * table persisted) and matches every micro-batch against it;
    * rebuilding per delta would re-decode the corpus each batch.
    */
  final case class VideoNeardupIndex(corpusShots: DataFrame, cappedBands: DataFrame) {
    def unpersist(): Unit = { cappedBands.unpersist(); () }
  }

  def neardupIndexOf(corpusShots: DataFrame): VideoNeardupIndex = {
    val cs = graft.Lineage.checkpoint(corpusShots).df
    val capped = Skew
      .capHeavy(bandsOf(cs), Seq("b", "v"), MaxBucketSize)
      .select(col("b"), col("v"), col("media_id").as("c_media"))
      .persist()
    VideoNeardupIndex(cs, capped)
  }

  /** Match one delta's shot table against a prebuilt corpus index (see
    * [[nearDupIncrementalOf]] for semantics).
    */
  def nearDupIncrementalIndexed(batchShots: DataFrame, index: VideoNeardupIndex): DataFrame = {
    val bs = graft.Lineage.checkpoint(batchShots).df
    val cs = index.corpusShots
    val cand = bandsOf(bs)
      .select(col("b"), col("v"), col("media_id").as("b_media"))
      .join(index.cappedBands, Seq("b", "v"))
      .select("b_media", "c_media")
      .distinct()
    val sa = bs.select(
      col("media_id").as("b_media"),
      col("n_shots").as("ns_b"),
      col("shot_idx"),
      col("shot_hash").as("hb")
    )
    val sc = cs.select(
      col("media_id").as("c_media"),
      col("n_shots").as("ns_c"),
      col("shot_idx"),
      col("shot_hash").as("hc")
    )
    val matched = cand
      .join(sa, Seq("b_media"))
      .join(sc, Seq("c_media", "shot_idx"))
      .groupBy(col("b_media"), col("c_media"), col("ns_b"), col("ns_c"))
      .agg(
        count(lit(1)).as("n_aligned"),
        sum(expr("cast(bit_count(hb ^ hc) as long)")).as("th")
      )
      .filter(col("ns_b") === col("ns_c") && col("n_aligned") === col("ns_b") && col("th") <= VerifyHamming)
      .groupBy(col("b_media").as("media_id"))
      .agg(min(col("c_media")).as("matched_media"))
    bs.select("media_id")
      .distinct()
      .join(matched, Seq("media_id"), "left")
      .select(
        col("media_id"),
        coalesce(col("matched_media"), col("media_id")).as("matched_media"),
        col("matched_media").isNull.as("is_new")
      )
  }

  // ---------------------------------------------------------------
  // Oracles: the JPEG coefficient law replayed per DISTINCT fixture
  // shot (in-shot frames are pixel-identical by construction, so one
  // replay per (src, j) covers every frame), then the boundary-merge,
  // banding and alignment rules mirrored exactly.
  // ---------------------------------------------------------------

  /** The shared media universe of the three registered content
    * queries: base clips, re-timed duplicates, trimmed partial copies.
    * Columns: (media_id, src, off — re-timing flag for the length
    * law, nshots, fidoff — fixture-id offset, jmin — first included
    * shot).
    */
  private def baseMSql: String =
    s"""m AS (
       |  SELECT doc_id AS media_id, doc_id AS src, 0 AS off, 1 + doc_id % 3 AS nshots,
       |    0 AS fidoff, 0 AS jmin
       |  FROM documents WHERE doc_id % 53 != 0 OR doc_id = 0
       |  UNION ALL
       |  SELECT doc_id + $DupBase, doc_id, 1, 1 + doc_id % 3, 0, 0
       |  FROM documents WHERE doc_id % 7 = 2
       |  UNION ALL
       |  SELECT doc_id + $TrimBase, doc_id, 0, 1 + doc_id % 3, 0, 1
       |  FROM documents WHERE doc_id % 9 = 5 AND doc_id % 3 != 0)""".stripMargin

  /** The incremental fixture's universe: corpus = base clips,
    * batch = re-timed duplicates + NOVEL clips (fixture ids offset 4,
    * content the corpus never saw); batch/corpus split by media range
    * downstream. Novel clips keep the base truncation rule, so the
    * %53 ∩ %13 ids quarantine on both engines.
    */
  private def incrMSql: String =
    s"""m AS (
       |  SELECT doc_id AS media_id, doc_id AS src, 0 AS off, 1 + doc_id % 3 AS nshots,
       |    0 AS fidoff, 0 AS jmin
       |  FROM documents WHERE doc_id % 53 != 0 OR doc_id = 0
       |  UNION ALL
       |  SELECT doc_id + $DupBase, doc_id, 1, 1 + doc_id % 3, 0, 0
       |  FROM documents WHERE doc_id % 7 = 2
       |  UNION ALL
       |  SELECT doc_id + $NovelBase, doc_id, 0, 1 + doc_id % 3, 4, 0
       |  FROM documents WHERE doc_id % 13 = 6 AND (doc_id % 53 != 0 OR doc_id = 0))""".stripMargin

  /** CTE chain ending in `shots(media_id, shot_idx, start_frame,
    * n_frames, shot_hash, ssr, ssg, ssb)` — detected shots with
    * channel sums, from the coefficient law over the given media
    * universe. Pixel replay is keyed by the fixture id alone (one
    * replay per DISTINCT shot content, however many media reference
    * it).
    */
  private def shotsCtes(mSql: String): String = {
    val zzRows = (0 until 64)
      .map(k => s"($k,${JpegCodec.Zig(k) & 7},${JpegCodec.Zig(k) >> 3},${JpegCodec.QLumZig(k)},${JpegCodec.QChrZig(k)})")
      .mkString(",")
    val bmRows =
      (for { u <- 0 until 8; x <- 0 until 8 } yield s"($u,$x,${JpegCodec.BM(u)(x)})").mkString(",")
    s"""$mSql,
       |fids AS (
       |  SELECT DISTINCT src * 8 + j.i + fidoff AS fid
       |  FROM m, (SELECT unnest(range(3)) AS i) j
       |  WHERE j.i >= jmin AND j.i < nshots),
       |zz(k, u, v, ql, qc) AS (VALUES $zzRows),
       |bm(u, x, val) AS (VALUES $bmRows),
       |coef AS (
       |  SELECT f.fid, cs.c, zz.u, zz.v,
       |    (CASE WHEN zz.k = 0 THEN ((f.fid * 5 + cs.c * 17) % 21) - 10
       |          WHEN (f.fid + cs.c + zz.k * 7) % (3 + f.fid % 29) = 0
       |            THEN ((f.fid * 13 + cs.c * 7 + zz.k * 19) % 61) - 30
       |          ELSE 0 END)
       |    * (CASE WHEN cs.c = 0 THEN zz.ql ELSE zz.qc END) AS dq,
       |    zz.k AS k
       |  FROM fids f, (SELECT unnest(range(3)) AS c) cs, zz),
       |nz AS (SELECT * FROM coef WHERE dq <> 0 OR k = 0),
       |samp AS (
       |  SELECT nz.fid, nz.c, bx.x AS px, byy.x AS py,
       |    least(255, greatest(0,
       |      CAST((SUM(nz.dq * bx.val * byy.val) + 134217728 + 35184372088832) // 268435456 AS BIGINT)
       |        - 131072 + 128)) AS s
       |  FROM nz
       |  JOIN bm bx ON bx.u = nz.u
       |  JOIN bm byy ON byy.u = nz.v
       |  GROUP BY 1, 2, 3, 4),
       |pix AS (
       |  SELECT sy.fid, sy.px, sy.py, sy.s AS yv, scb.s AS cbv, scr.s AS crv
       |  FROM samp sy
       |  JOIN samp scb ON scb.fid = sy.fid AND scb.px = sy.px AND scb.py = sy.py AND scb.c = 1
       |  JOIN samp scr ON scr.fid = sy.fid AND scr.px = sy.px AND scr.py = sy.py AND scr.c = 2
       |  WHERE sy.c = 0),
       |rgb AS (
       |  SELECT fid, px, py,
       |    least(255, greatest(0, yv + ((91881 * (crv - 128) + 32768 + 16777216) // 65536) - 256)) AS r,
       |    least(255, greatest(0,
       |      yv - (((22554 * (cbv - 128) + 46802 * (crv - 128) + 32768 + 33554432) // 65536) - 512))) AS g,
       |    least(255, greatest(0, yv + ((116130 * (cbv - 128) + 32768 + 33554432) // 65536) - 512)) AS b
       |  FROM pix),
       |gray AS (SELECT fid, px, py, r + g + b AS g3, r, g, b FROM rgb),
       |bits AS (
       |  SELECT l.fid, l.py * 7 + l.px AS k,
       |    CASE WHEN l.g3 < r.g3 THEN 1 ELSE 0 END AS bit
       |  FROM gray l JOIN gray r
       |    ON r.fid = l.fid AND r.py = l.py AND r.px = l.px + 1
       |  WHERE l.px < 7),
       |fhash AS (
       |  SELECT fid, CAST(sum(bit * (1::BIGINT << CAST(k AS INT))) AS BIGINT) AS h
       |  FROM bits GROUP BY 1),
       |fsum AS (SELECT fid, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb FROM gray GROUP BY 1),
       |sh AS (
       |  SELECT m.media_id, j.i AS j, 2 + (m.src + j.i + m.off) % 2 AS len,
       |    fh.h, fs.sr, fs.sg, fs.sb
       |  FROM m, (SELECT unnest(range(3)) AS i) j, fhash fh, fsum fs
       |  WHERE j.i >= m.jmin AND j.i < m.nshots
       |    AND fh.fid = m.src * 8 + j.i + m.fidoff
       |    AND fs.fid = fh.fid),
       |det AS (
       |  SELECT *,
       |    CASE WHEN lag(h) OVER w IS NULL
       |              OR bit_count(xor(h, lag(h) OVER w)) > $ShotHamming THEN 1 ELSE 0 END AS nf,
       |    coalesce(sum(len) OVER (PARTITION BY media_id ORDER BY j
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fstart
       |  FROM sh WINDOW w AS (PARTITION BY media_id ORDER BY j)),
       |det2 AS (
       |  SELECT *, sum(nf) OVER (PARTITION BY media_id ORDER BY j) - 1 AS sidx FROM det),
       |shots AS (
       |  SELECT media_id, sidx AS shot_idx,
       |    min(fstart) AS start_frame, sum(len) AS n_frames,
       |    arg_min(h, j) AS shot_hash,
       |    sum(len * sr) AS ssr, sum(len * sg) AS ssg, sum(len * sb) AS ssb
       |  FROM det2 GROUP BY 1, 2)""".stripMargin
  }

  private def boundsOracle: String =
    s"""WITH ${shotsCtes(baseMSql)}
       |SELECT media_id, CAST(shot_idx AS BIGINT) AS shot_idx,
       |  CAST(start_frame AS BIGINT) AS start_frame,
       |  CAST(n_frames AS BIGINT) AS n_frames, shot_hash
       |FROM shots""".stripMargin

  private def featuresOracle: String =
    s"""WITH ${shotsCtes(baseMSql)}
       |SELECT media_id, CAST(shot_idx AS BIGINT) AS shot_idx,
       |  CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST((ssr * 100) // (64 * n_frames) AS BIGINT) AS mean_r_c,
       |  CAST((ssg * 100) // (64 * n_frames) AS BIGINT) AS mean_g_c,
       |  CAST((ssb * 100) // (64 * n_frames) AS BIGINT) AS mean_b_c
       |FROM shots""".stripMargin

  private def nearDupOracle: String =
    s"""WITH ${shotsCtes(baseMSql)},
       |nsh AS (SELECT media_id, count(*) AS n_shots FROM shots GROUP BY 1),
       |fp AS (
       |  SELECT s.media_id, n.n_shots,
       |    max(CASE WHEN s.shot_idx = 0 THEN s.shot_hash END) AS h0,
       |    max(CASE WHEN s.shot_idx = n.n_shots - 1 THEN s.shot_hash END) AS h1,
       |    max(CASE WHEN s.shot_idx = n.n_shots // 2 THEN s.shot_hash END) AS h2
       |  FROM shots s JOIN nsh n USING (media_id) GROUP BY 1, 2),
       |bands AS (
       |  SELECT media_id, b.i AS b,
       |    CASE b.i WHEN 0 THEN h0 WHEN 1 THEN h1 ELSE h2 END AS v
       |  FROM fp, (SELECT unnest(range(3)) AS i) b),
       |light AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY b, v) AS cn FROM bands) _l
       |  WHERE cn <= $MaxBucketSize),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
       |  FROM light a JOIN light b ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id),
       |al AS (
       |  SELECT c.media_a, c.media_b, count(*) AS n_aligned,
       |    sum(bit_count(xor(sa.shot_hash, sb.shot_hash))) AS total_hamming
       |  FROM cand c
       |  JOIN shots sa ON sa.media_id = c.media_a
       |  JOIN shots sb ON sb.media_id = c.media_b AND sb.shot_idx = sa.shot_idx
       |  GROUP BY 1, 2)
       |SELECT al.media_a, al.media_b, CAST(na.n_shots AS BIGINT) AS n_shots,
       |  CAST(al.total_hamming AS BIGINT) AS total_hamming
       |FROM al
       |JOIN nsh na ON na.media_id = al.media_a
       |JOIN nsh nb ON nb.media_id = al.media_b
       |WHERE na.n_shots = nb.n_shots AND al.n_aligned = na.n_shots
       |  AND al.total_hamming <= $VerifyHamming""".stripMargin

  private val boundsQ = Q(
    "multimodal_shot_bounds",
    (s, d) => shotTable(clipTable(s, d))
      .toDF()
      .select("media_id", "shot_idx", "start_frame", "n_frames", "shot_hash"),
    Some(boundsOracle)
  )

  private val featuresQ = Q(
    "multimodal_shot_features",
    (s, d) => shotTable(clipTable(s, d))
      .toDF()
      .select("media_id", "shot_idx", "n_frames", "mean_r_c", "mean_g_c", "mean_b_c"),
    Some(featuresOracle)
  )

  private val nearDupQ = Q(
    "dedup_video_neardup",
    (s, d) => nearDupOf(shotTable(clipTable(s, d)).toDF()),
    Some(nearDupOracle)
  )

  private def overlapOracle: String =
    s"""WITH ${shotsCtes(baseMSql)},
       |nsh AS (SELECT media_id, count(*) AS n_shots FROM shots GROUP BY 1),
       |hs AS (
       |  SELECT DISTINCT s.media_id, n.n_shots, s.shot_hash
       |  FROM shots s JOIN nsh n USING (media_id)),
       |heavy AS (SELECT shot_hash FROM hs GROUP BY 1 HAVING count(*) > $MaxBucketSize),
       |light AS (SELECT * FROM hs WHERE shot_hash NOT IN (SELECT shot_hash FROM heavy))
       |SELECT a.media_id AS media_a, b.media_id AS media_b,
       |  CAST(a.n_shots AS BIGINT) AS n_shots_a, CAST(b.n_shots AS BIGINT) AS n_shots_b,
       |  CAST(count(DISTINCT a.shot_hash) AS BIGINT) AS n_shared
       |FROM light a JOIN light b ON a.shot_hash = b.shot_hash AND a.media_id < b.media_id
       |GROUP BY 1, 2, 3, 4""".stripMargin

  private def incrementalOracle: String =
    s"""WITH ${shotsCtes(incrMSql)},
       |nsh AS (SELECT media_id, count(*) AS n_shots FROM shots GROUP BY 1),
       |fp AS (
       |  SELECT s.media_id, n.n_shots,
       |    max(CASE WHEN s.shot_idx = 0 THEN s.shot_hash END) AS h0,
       |    max(CASE WHEN s.shot_idx = n.n_shots - 1 THEN s.shot_hash END) AS h1,
       |    max(CASE WHEN s.shot_idx = n.n_shots // 2 THEN s.shot_hash END) AS h2
       |  FROM shots s JOIN nsh n USING (media_id) GROUP BY 1, 2),
       |bands AS (
       |  SELECT media_id, b.i AS b,
       |    CASE b.i WHEN 0 THEN h0 WHEN 1 THEN h1 ELSE h2 END AS v
       |  FROM fp, (SELECT unnest(range(3)) AS i) b),
       |cb AS (SELECT * FROM bands WHERE media_id < $DupBase),
       |bb AS (SELECT * FROM bands WHERE media_id >= $DupBase),
       |heavy AS (SELECT b, v FROM cb GROUP BY b, v HAVING count(*) > $MaxBucketSize),
       |cand AS (
       |  SELECT DISTINCT bb.media_id AS b_media, cb.media_id AS c_media
       |  FROM bb
       |  JOIN cb ON cb.b = bb.b AND cb.v = bb.v
       |  LEFT JOIN heavy h ON h.b = cb.b AND h.v = cb.v
       |  WHERE h.b IS NULL),
       |al AS (
       |  SELECT c.b_media, c.c_media, count(*) AS n_aligned,
       |    sum(bit_count(xor(sa.shot_hash, sc.shot_hash))) AS th
       |  FROM cand c
       |  JOIN shots sa ON sa.media_id = c.b_media
       |  JOIN shots sc ON sc.media_id = c.c_media AND sc.shot_idx = sa.shot_idx
       |  GROUP BY 1, 2),
       |mt AS (
       |  SELECT al.b_media AS media_id, min(al.c_media) AS matched_media
       |  FROM al
       |  JOIN nsh nb ON nb.media_id = al.b_media
       |  JOIN nsh nc ON nc.media_id = al.c_media
       |  WHERE nb.n_shots = nc.n_shots AND al.n_aligned = nb.n_shots
       |    AND al.th <= $VerifyHamming
       |  GROUP BY 1)
       |SELECT b.media_id,
       |  coalesce(mt.matched_media, b.media_id) AS matched_media,
       |  mt.matched_media IS NULL AS is_new
       |FROM (SELECT DISTINCT media_id FROM shots WHERE media_id >= $DupBase) b
       |LEFT JOIN mt USING (media_id)""".stripMargin

  private val overlapQ = Q(
    "dedup_video_shot_overlap",
    (s, d) => shotOverlapOf(shotTable(clipTable(s, d)).toDF()),
    Some(overlapOracle)
  )

  private val incrementalQ = Q(
    "dedup_video_neardup_incremental",
    (s, d) =>
      nearDupIncrementalOf(
        shotTable(batchClipTable(s, d)).toDF(),
        shotTable(corpusClipTable(s, d)).toDF()
      ),
    Some(incrementalOracle)
  )

  private val replayQ = Q(
    // The VideoStream foreachBatch contract: per-micro-batch decode +
    // incremental assignment against a STATIC prebuilt corpus index,
    // results unioned across batches == the one-shot batch assignment
    // (batch clips are independent by contract). Same oracle as
    // dedup_video_neardup_incremental certifies it.
    "stream_video_neardup_replay",
    (s, d) => {
      val index = neardupIndexOf(shotTable(corpusClipTable(s, d)).toDF())
      val batchShots = shotTable(batchClipTable(s, d)).toDF()
      val b1 = batchShots.filter(pmod(col("media_id"), lit(2)) === 0)
      val b2 = batchShots.filter(pmod(col("media_id"), lit(2)) === 1)
      nearDupIncrementalIndexed(b1, index)
        .unionByName(nearDupIncrementalIndexed(b2, index))
    },
    Some(incrementalOracle)
  )

  val all: Seq[Q] = Seq(boundsQ, featuresQ, nearDupQ, overlapQ, incrementalQ, replayQ)
}
