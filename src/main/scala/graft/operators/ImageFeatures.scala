package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Image FEATURE EXTRACTION over the decoded-pixel tier — the three
  * operations a multimodal training pipeline runs after decode:
  *
  *  - box-filter RESIZE (`multimodal_image_resize`): the thumbnail /
  *    model-input downscale, computed straight off the 24-bpp BMP
  *    bytes as per-cell integer channel sums (no raster materializes);
  *  - dHash PERCEPTUAL fingerprinting (`multimodal_image_dhash`): the
  *    classic 9×8 difference hash (adjacent-cell luminance gradients →
  *    64 bits) — brightness-shift tolerant because a global shift moves
  *    both sides of every comparison;
  *  - perceptual-hash NEAR-DUP pairing (`dedup_image_neardup`): the
  *    image half of the dedup tier — 4×16-bit band bucketing (the
  *    MinHash-LSH discipline: candidates only within equal-band
  *    buckets, heavy buckets capped) + exact Hamming verification.
  *
  * Fixture: complete BMPs from the [[Multimodal.bmpFullHex]] closed-form
  * pixel law at thumbnail-scale dims; every 7th image also appears as a
  * PLANTED near-duplicate (same pixels + a global brightness offset,
  * the classic re-encode/levels-tweak duplicate) under a shifted
  * media_id. The oracle recomputes every cell sum, hash bit, band and
  * Hamming distance ANALYTICALLY from the same law — the Spark side
  * must actually walk the bytes.
  *
  * Scale shape: resize/hash are map-only over the payload column (per
  * cell a bounded byte fold; transient memory O(grid), never O(w·h));
  * near-dup pairing is the banded equi-join with a bucket cap — never
  * all-pairs. At 100 TB the hash table is 16 bytes/image and the band
  * join shuffles hashes, not payloads.
  */
object ImageFeatures {

  /** Thumbnail-scale fixture dims (≥ the 9×8 hash grid everywhere). */
  private def lawW(id: org.apache.spark.sql.Column) = id % 17 + 16 // 16..32
  private def lawH(id: org.apache.spark.sql.Column) = id % 13 + 12 // 12..24

  /** Global brightness offset of the planted near-duplicates. */
  private val DupDelta = 5L

  /** media_id offset marking the planted copies. */
  private val DupBase = 10000000L

  /** Resize grid for the registered resize query. */
  private val GridW = 4
  private val GridH = 4

  /** dHash grid (the classic 9×8 → 64 gradient bits). */
  private val HashW = 9
  private val HashH = 8

  /** Hamming acceptance for verified near-dup pairs. */
  private val HammingMax = 10

  /** Per-band bucket cap (the MaxBucketSize discipline): a band value
    * shared by more images than this is a degenerate bucket (flat
    * thumbnails) and is dropped from pair GENERATION — the
    * heavy-bucket diagnostic surfaces it instead of an n² join.
    */
  private val MaxBucketSize = 64L

  /** Channel law with ID-DEPENDENT slopes: the additive-id BMP law
    * ([[Multimodal.bmpFullHex]]) has identical gradients for every
    * image, so difference hashes of unrelated images collide; here the
    * x/y slopes vary with the id, giving each image its own gradient
    * structure (the property real photos have and dHash relies on).
    */
  private[graft] def chanLaw(src: org.apache.spark.sql.Column, delta: org.apache.spark.sql.Column)(
      x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column
  ): Seq[org.apache.spark.sql.Column] =
    Seq(
      src + (lit(3L) + src % 11) * x + (lit(7L) + src % 7) * y + delta,
      lit(2L) * src + (lit(5L) + src % 13) * x + (lit(1L) + src % 5) * y + delta,
      lit(3L) * src + (lit(1L) + src % 9) * x + (lit(11L) + src % 3) * y + delta
    )

  /** media_id offset / content-source offset of the incremental
    * batch's NOVEL images (content the corpus never saw).
    */
  private val NovelBase = 30000000L
  private val NovelSrcOff = 1000000L

  /** One fixture image row: payload from the channel law of `src`
    * (+ brightness `delta`) under media id `mediaId`.
    */
  private def imageRows(
      docs: DataFrame,
      mediaId: org.apache.spark.sql.Column,
      src: org.apache.spark.sql.Column,
      delta: Long
  ): DataFrame =
    docs.select(
      mediaId.as("media_id"),
      unhex(Multimodal.bmpFullHexWith(lawW(src), lawH(src), chanLaw(src, lit(delta)))).as("payload")
    )

  /** Base images + planted brightness-shifted near-duplicates. */
  def imageTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    imageRows(docs, col("doc_id"), col("doc_id"), 0L)
      .unionByName(
        imageRows(docs.filter(col("doc_id") % 7 === 3), col("doc_id") + DupBase, col("doc_id"), DupDelta)
      )
  }

  /** Corpus side of the incremental fixture: base images only. */
  def corpusImageTable(s: SparkSession, d: String): DataFrame =
    imageRows(Tables.documents(s, d), col("doc_id"), col("doc_id"), 0L)

  /** Incremental batch: the brightness-shifted copies (must adopt
    * their source image) plus NOVEL images whose content law reads a
    * source id no corpus image uses (must start their own identity).
    */
  def batchImageTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    imageRows(docs.filter(col("doc_id") % 7 === 3), col("doc_id") + DupBase, col("doc_id"), DupDelta)
      .unionByName(
        imageRows(
          docs.filter(col("doc_id") % 11 === 4),
          col("doc_id") + NovelBase,
          col("doc_id") + NovelSrcOff,
          0L
        )
      )
  }

  /** Per-cell gray sums of a `gw`×`gh` box-filter grid, straight off
    * the BMP bytes: cell (cy, cx) covers image rows
    * [cy·h div gh, (cy+1)·h div gh) × cols [cx·w div gw, (cx+1)·w div
    * gw); gray is the raw R+G+B sum (divisions happen once at the
    * consumer, keeping every intermediate an exact integer). Stored
    * rows are bottom-up: image row y lives at stored row h−1−y.
    */
  private[graft] def cellSums(media: DataFrame, gw: Int, gh: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    media
      .withColumn("hdr", lower(hex(substring(col("payload"), 1, 26))))
      .withColumn("w", expr(Multimodal.hdrLe32Sql(18)))
      .withColumn("h", expr(Multimodal.hdrLe32Sql(22)))
      .filter(col("w") >= gw && col("h") >= gh)
      .select(
        col("media_id"),
        col("w"),
        col("h"),
        // Native one-pass kernel (the WinnowAnchorsExpr discipline): the
        // composed per-byte fold below is the cross-checkable
        // specification — RoundTwelveOpsSpec asserts equality — and the
        // oracle replays the same arithmetic, so the hash gate certifies
        // the kernel every round.
        posexplode(
          GraftColumn.of(
            graft.plans.BoxGridExpr(GraftColumn.exprOf(col("payload")), gw, gh)
          )
        ).as(Seq("cell", "sum_g"))
      )
      .withColumn("cy", (col("cell") / gw).cast("long"))
      .withColumn("cx", pmod(col("cell"), lit(gw)).cast("long"))
      .withColumn("x0", expr(s"(cx * w) div $gw"))
      .withColumn("x1", expr(s"((cx + 1) * w) div $gw"))
      .withColumn("y0", expr(s"(cy * h) div $gh"))
      .withColumn("y1", expr(s"((cy + 1) * h) div $gh"))
      .withColumn("n_px", (col("x1") - col("x0")) * (col("y1") - col("y0")))
      .select("media_id", "cy", "cx", "n_px", "sum_g")
  }

  /** The composed-builtin specification of [[graft.plans.BoxGridExpr]]
    * (per-cell byte folds through one-byte reads) — spec-asserted equal
    * to the kernel; not on the data path.
    */
  private[graft] def cellSumsComposed(media: DataFrame, gw: Int, gh: Int): DataFrame = {
    val pxSum =
      s"""aggregate(sequence(y0, y1 - 1L), 0L, (a, y) ->
         |  a + aggregate(sequence(x0, x1 - 1L), 0L, (b, x) ->
         |    b + ${Multimodal.byteAtSql("off + (h - 1 - y) * rs + 3 * x")}
         |      + ${Multimodal.byteAtSql("off + (h - 1 - y) * rs + 3 * x + 1")}
         |      + ${Multimodal.byteAtSql("off + (h - 1 - y) * rs + 3 * x + 2")}))""".stripMargin
    media
      .withColumn("hdr", lower(hex(substring(col("payload"), 1, 26))))
      .withColumn("w", expr(Multimodal.hdrLe32Sql(18)))
      .withColumn("h", expr(Multimodal.hdrLe32Sql(22)))
      .withColumn("off", expr(Multimodal.hdrLe32Sql(10)))
      .withColumn("rs", expr("((3 * w + 3) div 4) * 4"))
      .filter(col("w") >= gw && col("h") >= gh)
      .select(
        col("media_id"),
        col("payload"),
        col("w"),
        col("h"),
        col("off"),
        col("rs"),
        explode(sequence(lit(0), lit(gh * gw - 1))).as("cell")
      )
      .withColumn("cy", (col("cell") / gw).cast("long"))
      .withColumn("cx", pmod(col("cell"), lit(gw)).cast("long"))
      .withColumn("x0", expr(s"(cx * w) div $gw"))
      .withColumn("x1", expr(s"((cx + 1) * w) div $gw"))
      .withColumn("y0", expr(s"(cy * h) div $gh"))
      .withColumn("y1", expr(s"((cy + 1) * h) div $gh"))
      .withColumn("n_px", (col("x1") - col("x0")) * (col("y1") - col("y0")))
      .withColumn("sum_g", expr(pxSum))
      .select("media_id", "cy", "cx", "n_px", "sum_g")
  }

  /** The registered resize: per-cell mean gray in centi-units. */
  def resizeOf(s: SparkSession, d: String): DataFrame =
    cellSums(imageTable(s, d), GridW, GridH)
      .select(
        col("media_id"),
        col("cy"),
        col("cx"),
        col("n_px"),
        expr("(sum_g * 100) div (3 * n_px)").as("mean_c")
      )

  /** 64-bit dHash as two non-negative 32-bit halves: bit k = cy·8+cx is
    * set iff cell (cy, cx) is strictly darker than its right neighbor
    * (cy, cx+1) on the 9×8 mean-gray grid.
    */
  def dhashOf(media: DataFrame): DataFrame = dhashWithGrid(media)._1

  /** [[dhashOf]] plus the persisted grid frame it rides — the release
    * seam for library callers composing the hash into a longer job
    * (the Classifier scoreStoredOf pattern): unpersist the returned
    * grid once the hash table is materialized, instead of inheriting
    * a 72-rows/image cache until `clearCache`. [[nearDupOf]] accepts
    * it via `release` and frees it as soon as its checkpoint lands.
    */
  def dhashWithGrid(media: DataFrame): (DataFrame, DataFrame) = {
    // The byte-fold grid feeds BOTH sides of the gradient self-join;
    // persist it (72 rows/image, the bandTableOf convention — released
    // by the caller's clearCache) so the payload walk runs once, not
    // once per side, and the plan stays linear in the fold expression.
    val grid = cellSums(media, HashW, HashH)
      // integer mean gray per cell — exact, engine-identical
      .withColumn("g", expr("sum_g div n_px"))
      .persist()
    val left = grid
      .filter(col("cx") < HashW - 1)
      .select(col("media_id"), col("cy"), col("cx"), col("g"))
    val right = grid.select(
      col("media_id"),
      col("cy"),
      (col("cx") - 1).as("cx"),
      col("g").as("gr")
    )
    val hashes = left
      .join(right, Seq("media_id", "cy", "cx"))
      .withColumn("k", col("cy") * (HashW - 1) + col("cx"))
      .withColumn("bit", when(col("g") < col("gr"), 1L).otherwise(0L))
      .groupBy("media_id")
      .agg(
        sum(when(col("k") >= 32, col("bit") * expr("shiftleft(1L, cast(k - 32 as int))"))
          .otherwise(0L)).as("hash_hi"),
        sum(when(col("k") < 32, col("bit") * expr("shiftleft(1L, cast(k as int))"))
          .otherwise(0L)).as("hash_lo")
      )
    (hashes, grid)
  }

  /** Banded near-dup pairing over the hash table: 4×16-bit bands →
    * capped bucket equi-join → exact Hamming ≤ `HammingMax` verify.
    * `release`: upstream persisted frames (the [[dhashWithGrid]] grid)
    * needed only to BUILD the hash table — freed as soon as the
    * checkpoint below materializes, so a library caller composing the
    * pipeline holds no stale cache.
    */
  def nearDupOf(hashes: DataFrame, release: Seq[DataFrame] = Nil): DataFrame = {
    // The hash table is 16 bytes/image and feeds the census plus both
    // join sides — checkpoint it once (the Bpe.train discipline) so the
    // decode pipeline behind it never replays per branch and the
    // banding plan is a scan, not four copies of the byte fold. The
    // checkpoint outlives unpersist/clearCache, so the consumer frees it
    // via Lineage.releaseHeld() after its action (Verify/Bench do).
    val hs = graft.Lineage.checkpoint(hashes).df
    release.foreach(_.unpersist())
    val light = Skew.capHeavy(hashBands(hs), Seq("b", "v"), MaxBucketSize)
    val a = light.select(
      col("b"),
      col("v"),
      col("media_id").as("media_a"),
      col("hash_hi").as("hi_a"),
      col("hash_lo").as("lo_a")
    )
    val b = light.select(
      col("b"),
      col("v"),
      col("media_id").as("media_b"),
      col("hash_hi").as("hi_b"),
      col("hash_lo").as("lo_b")
    )
    a.join(b, Seq("b", "v"))
      .filter(col("media_a") < col("media_b"))
      .select("media_a", "media_b", "hi_a", "lo_a", "hi_b", "lo_b")
      .distinct()
      .withColumn(
        "hamming",
        expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)").cast("long")
      )
      .filter(col("hamming") <= HammingMax)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }

  /** The 4×16-bit band explosion of a hash table. */
  private def hashBands(hs: DataFrame): DataFrame = hs
    .select(
      col("media_id"),
      col("hash_hi"),
      col("hash_lo"),
      explode(
        array(
          struct(lit(0L).as("b"), pmod(col("hash_lo"), lit(65536L)).as("v")),
          struct(lit(1L).as("b"), expr("hash_lo div 65536").as("v")),
          struct(lit(2L).as("b"), pmod(col("hash_hi"), lit(65536L)).as("v")),
          struct(lit(3L).as("b"), expr("hash_hi div 65536").as("v"))
        )
      ).as("band")
    )
    .select(
      col("media_id"),
      col("hash_hi"),
      col("hash_lo"),
      col("band.b").as("b"),
      col("band.v").as("v")
    )

  /** Incremental assignment — the daily-delta shape for the image
    * family ([[VideoShots.nearDupIncrementalOf]]'s contract on the
    * single-hash fingerprint): the corpus hash table is STORED state
    * (16 B/image, history never re-decodes); each batch image hashes
    * once, its bands equi-join the corpus bands (corpus-side heavy
    * cap), exact Hamming ≤ [[HammingMax]] verifies, and a match adopts
    * the EARLIEST (min) matching corpus id; novel images keep their
    * own identity. Returns (media_id, matched_media, is_new).
    */
  def nearDupIncrementalOf(batchHashes: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val bh = graft.Lineage.checkpoint(batchHashes).df
    val ch = graft.Lineage.checkpoint(corpusHashes).df
    val matched = hashBands(bh)
      .select(col("b"), col("v"), col("media_id").as("media_id"), col("hash_hi").as("bhi"), col("hash_lo").as("blo"))
      .join(
        Skew
          .capHeavy(hashBands(ch), Seq("b", "v"), MaxBucketSize)
          .select(col("b"), col("v"), col("media_id").as("c_media"), col("hash_hi").as("chi"), col("hash_lo").as("clo")),
        Seq("b", "v")
      )
      .select("media_id", "c_media", "bhi", "blo", "chi", "clo")
      .distinct()
      .filter(expr("bit_count(bhi ^ chi) + bit_count(blo ^ clo)") <= HammingMax)
      .groupBy("media_id")
      .agg(min(col("c_media")).as("matched_media"))
    bh.select("media_id")
      .distinct()
      .join(matched, Seq("media_id"), "left")
      .select(
        col("media_id"),
        coalesce(col("matched_media"), col("media_id")).as("matched_media"),
        col("matched_media").isNull.as("is_new")
      )
  }

  // ---------------------------------------------------------------
  // Oracles: every pixel, cell, bit, band and distance replayed from
  // the closed-form channel law (src + brightness delta of the planted
  // copies).
  // ---------------------------------------------------------------

  /** Media universe: (media_id, src id the pixel law reads, delta). */
  private def mediaSql: String =
    s"""m AS (
       |  SELECT doc_id AS media_id, doc_id AS src, 0 AS delta,
       |    doc_id % 17 + 16 AS w, doc_id % 13 + 12 AS h
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $DupBase, doc_id, $DupDelta,
       |    doc_id % 17 + 16, doc_id % 13 + 12
       |  FROM documents WHERE doc_id % 7 = 3)""".stripMargin

  /** Per-cell gray sums on a gw×gh grid from the law. */
  private def cellSql(gw: Int, gh: Int): String =
    s"""cells AS (
       |  SELECT media_id, src, delta, w, h, cy.i AS cy, cx.i AS cx,
       |    (cx.i * w) // $gw AS x0, ((cx.i + 1) * w) // $gw AS x1,
       |    (cy.i * h) // $gh AS y0, ((cy.i + 1) * h) // $gh AS y1
       |  FROM m, (SELECT unnest(range($gh)) AS i) cy, (SELECT unnest(range($gw)) AS i) cx),
       |cs AS (
       |  SELECT media_id, cy, cx, (x1 - x0) * (y1 - y0) AS n_px,
       |    list_sum(flatten(list_transform(range(y0, y1), y ->
       |      list_transform(range(x0, x1), x ->
       |        (src + (3 + src % 11) * x + (7 + src % 7) * y + delta) % 256 +
       |        (2 * src + (5 + src % 13) * x + (1 + src % 5) * y + delta) % 256 +
       |        (3 * src + (1 + src % 9) * x + (11 + src % 3) * y + delta) % 256)))) AS sum_g
       |  FROM cells)""".stripMargin

  private val resizeQ = Q(
    "multimodal_image_resize",
    (s, d) => resizeOf(s, d),
    Some(
      s"""WITH $mediaSql,
         |${cellSql(GridW, GridH)}
         |SELECT media_id, CAST(cy AS BIGINT) AS cy, CAST(cx AS BIGINT) AS cx,
         |  CAST(n_px AS BIGINT) AS n_px,
         |  CAST((sum_g * 100) // (3 * n_px) AS BIGINT) AS mean_c
         |FROM cs""".stripMargin
    )
  )

  /** dHash CTE chain ending in `hs(media_id, hash_hi, hash_lo)`. */
  private def dhashSql: String =
    s"""${cellSql(HashW, HashH)},
       |grid AS (SELECT media_id, cy, cx, sum_g // n_px AS g FROM cs),
       |bits AS (
       |  SELECT l.media_id, l.cy * ${HashW - 1} + l.cx AS k,
       |    CASE WHEN l.g < r.g THEN 1 ELSE 0 END AS bit
       |  FROM grid l JOIN grid r
       |    ON r.media_id = l.media_id AND r.cy = l.cy AND r.cx = l.cx + 1
       |  WHERE l.cx < ${HashW - 1}),
       |hs AS (
       |  SELECT media_id,
       |    CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << CAST(k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hash_hi,
       |    CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS hash_lo
       |  FROM bits GROUP BY media_id)""".stripMargin

  private val dhashQ = Q(
    "multimodal_image_dhash",
    (s, d) => dhashOf(imageTable(s, d)),
    Some(
      s"""WITH $mediaSql,
         |$dhashSql
         |SELECT media_id, hash_hi, hash_lo FROM hs""".stripMargin
    )
  )

  private val nearDupQ = Q(
    "dedup_image_neardup",
    (s, d) => {
      val (hashes, grid) = dhashWithGrid(imageTable(s, d))
      nearDupOf(hashes, release = Seq(grid))
    },
    Some(
      s"""WITH $mediaSql,
         |$dhashSql,
         |bands AS (
         |  SELECT media_id, hash_hi, hash_lo, b.i AS b,
         |    CASE b.i WHEN 0 THEN hash_lo % 65536
         |             WHEN 1 THEN hash_lo // 65536
         |             WHEN 2 THEN hash_hi % 65536
         |             ELSE hash_hi // 65536 END AS v
         |  FROM hs, (SELECT unnest(range(4)) AS i) b),
         |light AS (
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY b, v) AS n FROM bands) _l
         |  WHERE n <= $MaxBucketSize),
         |cand AS (
         |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |    a.hash_hi AS hi_a, a.hash_lo AS lo_a, b.hash_hi AS hi_b, b.hash_lo AS lo_b
         |  FROM light a JOIN light b ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id)
         |SELECT media_a, media_b,
         |  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= $HammingMax""".stripMargin
    )
  )

  /** The incremental fixture's universe: corpus = base images,
    * batch = brightness-shifted copies + novel-content images.
    */
  private def incrMediaSql: String =
    s"""m AS (
       |  SELECT doc_id AS media_id, doc_id AS src, 0 AS delta,
       |    doc_id % 17 + 16 AS w, doc_id % 13 + 12 AS h
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $DupBase, doc_id, $DupDelta,
       |    doc_id % 17 + 16, doc_id % 13 + 12
       |  FROM documents WHERE doc_id % 7 = 3
       |  UNION ALL
       |  SELECT doc_id + $NovelBase, doc_id + $NovelSrcOff, 0,
       |    (doc_id + $NovelSrcOff) % 17 + 16, (doc_id + $NovelSrcOff) % 13 + 12
       |  FROM documents WHERE doc_id % 11 = 4)""".stripMargin

  private val nearDupIncrQ = Q(
    "dedup_image_neardup_incremental",
    (s, d) => {
      val (bh, bGrid) = dhashWithGrid(batchImageTable(s, d))
      val (ch, cGrid) = dhashWithGrid(corpusImageTable(s, d))
      // nearDupIncrementalOf checkpoints both hash tables eagerly, so
      // the byte-fold grids are releasable as soon as it returns
      val out = nearDupIncrementalOf(bh, ch)
      bGrid.unpersist()
      cGrid.unpersist()
      out
    },
    Some(
      s"""WITH $incrMediaSql,
         |$dhashSql,
         |bands AS (
         |  SELECT media_id, hash_hi, hash_lo, b.i AS b,
         |    CASE b.i WHEN 0 THEN hash_lo % 65536
         |             WHEN 1 THEN hash_lo // 65536
         |             WHEN 2 THEN hash_hi % 65536
         |             ELSE hash_hi // 65536 END AS v
         |  FROM hs, (SELECT unnest(range(4)) AS i) b),
         |cb AS (SELECT * FROM bands WHERE media_id < $DupBase),
         |bb AS (SELECT * FROM bands WHERE media_id >= $DupBase),
         |heavy AS (SELECT b, v FROM cb GROUP BY 1, 2 HAVING count(*) > $MaxBucketSize),
         |cand AS (
         |  SELECT DISTINCT bb.media_id AS media_id, cb.media_id AS c_media,
         |    bb.hash_hi AS bhi, bb.hash_lo AS blo, cb.hash_hi AS chi, cb.hash_lo AS clo
         |  FROM bb
         |  JOIN cb ON cb.b = bb.b AND cb.v = bb.v
         |  LEFT JOIN heavy h ON h.b = cb.b AND h.v = cb.v
         |  WHERE h.b IS NULL),
         |mt AS (
         |  SELECT media_id, min(c_media) AS matched_media FROM cand
         |  WHERE bit_count(xor(bhi, chi)) + bit_count(xor(blo, clo)) <= $HammingMax
         |  GROUP BY 1)
         |SELECT b.media_id,
         |  coalesce(mt.matched_media, b.media_id) AS matched_media,
         |  mt.matched_media IS NULL AS is_new
         |FROM (SELECT DISTINCT media_id FROM hs WHERE media_id >= $DupBase) b
         |LEFT JOIN mt USING (media_id)""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(resizeQ, dhashQ, nearDupQ, nearDupIncrQ)
}
