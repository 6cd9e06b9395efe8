package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Audio CONTENT identity over the decoded-sample tier — the Shazam
  * shape ([[AudioFeatures]]' 32-point integer DFT hopped over the
  * clip, then landmark matching) in the same all-integer discipline:
  *
  *  - WINDOWED spectra (`multimodal_audio_windows`): the clip is cut
  *    into non-overlapping 32-sample windows (bounded windows/clip);
  *    per window, the AC peak bin / energy / permille ride the exact
  *    packed-argmax arithmetic of `multimodal_audio_spectrum` with the
  *    SAME quantized twiddle literals in both engines.
  *  - LANDMARK near-dup (`dedup_audio_neardup`): per window triple
  *    (t, t+1, t+2), a landmark value packs the three consecutive
  *    peak bins plus the first window's energy-share bucket; clips
  *    sharing a landmark are candidates (heavy-landmark cap — a
  *    degenerate tone corpus shares one landmark everywhere), and a
  *    pair is VERIFIED when ≥ [[AudioFingerprint.MinMatch]] landmarks
  *    align at one time OFFSET (the Shazam offset-histogram rule —
  *    the output carries the offset, so a shifted copy reads dt = 1).
  *
  * Fixture: PCM16 clips of 7..9 full windows whose samples sit ON the
  * G.711 µ-law lattice (s_k = µ-law-expand((id·31 + k·17) mod 256)).
  * Two plant families per clip id: a HOP-SHIFTED copy (every 5th id:
  * the same samples minus the first window — recovered at dt = 1) and
  * a RE-COMPANDED copy (every 5th id, offset 3: the SAME content
  * stored as a G.711 µ-law WAV — format code 7, half the bytes —
  * which the extractor must route through the companding law before
  * fingerprinting; lattice-aligned samples make compress∘expand the
  * identity, so this is CROSS-CODEC content identity recovered at
  * dt = 0, exact). The oracle replays samples, spectra, landmarks and
  * offset histograms analytically from the closed-form code law.
  *
  * Scale shape: sample extraction is one pass per clip into a bounded
  * array column (the per-byte conv cost paid once, not once per
  * bin·term as a naive windowed DFT would); windows/bins explode to
  * ≤ 9·16 bounded rows per clip; landmarks are 8 bytes × ≤ 7 rows per
  * clip, and the near-dup join ships landmarks, never samples. The
  * only window function partitions by media_id over ≤ 9 rows.
  */
object AudioFingerprint {

  private val N = 32
  private val Bins = N / 2 // AC bins 1..16
  private val MinMatch = 3L
  private val MaxBucketSize = 200L

  /** media_id offsets of the two plant families. */
  private val ShiftBase = 10000000L
  private val CompandBase = 20000000L

  // ---------------------------------------------------------------
  // Fixture: µ-law-lattice PCM16 clips + shifted / re-companded plants.
  // ---------------------------------------------------------------

  /** G.711 µ-law expansion as Column arithmetic (the
    * [[Multimodal.mulawExpand]] law).
    */
  private def mulawExpandCol(c: Column): Column = {
    val u = lit(255L) - c
    val mant = pmod(u, lit(16L))
    val ex = pmod(Multimodal.expr2(u, 16L), lit(8L))
    val p2 = element_at(
      typedLit(Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L)),
      ex.cast("int") + 1
    )
    val t = (mant * 8 + 132) * p2
    when(u >= 128, lit(132L) - t).otherwise(t - lit(132L))
  }

  /** Sample k of clip `src` with hop offset `off` (the closed-form
    * lattice law both engines replay): per 32-sample window w, the
    * codes walk an arithmetic progression whose STEP is a
    * Lehmer-mixed function of (src, w) — the step sets the window's
    * dominant frequency, so peak bins vary across windows AND clips
    * (a fixed step would peak every window at the same bin and
    * collapse the landmark space — measured, not guessed).
    */
  private def codeLaw(src: Column, off: Long)(k: Column): Column = {
    val kk = k + off
    val w = Multimodal.expr2(kk, 32L)
    val i = pmod(kk, lit(32L))
    val st = lit(1L) +
      pmod(pmod(src * 48271 + w * 9349 + pmod(src, lit(101L)) * w * 53, lit(16381L)), lit(128L))
    pmod(src * 31 + w * 97 + i * st, lit(256L))
  }

  private[graft] def sampleLaw(src: Column, off: Long)(k: Column): Column =
    mulawExpandCol(codeLaw(src, off)(k))

  /** Canonical-44 PCM16 mono 8 kHz WAV around an arbitrary sample law. */
  private[graft] def pcm16WavHex(n: Column, sample: Column => Column): Column = {
    val header = concat(
      lit("52494646"), Multimodal.le32h(lit(36L) + n * 2), lit("57415645"),
      lit("666d7420"), Multimodal.le32h(lit(16L)),
      Multimodal.le16h(lit(1L)), Multimodal.le16h(lit(1L)),
      Multimodal.le32h(lit(8000L)), Multimodal.le32h(lit(16000L)),
      Multimodal.le16h(lit(2L)), Multimodal.le16h(lit(16L)),
      lit("64617461"), Multimodal.le32h(n * 2)
    )
    val body = array_join(
      transform(
        sequence(lit(0L), n - 1),
        k => {
          val u = pmod(sample(k), lit(65536L))
          concat(Multimodal.h2(u), Multimodal.h2(Multimodal.expr2(u, 256L)))
        }
      ),
      ""
    )
    concat(header, body)
  }

  /** Canonical-44 G.711 µ-law WAV (format 7, 8-bit) around a code law. */
  private def mulawWavHex(n: Column, code: Column => Column): Column = {
    val header = concat(
      lit("52494646"), Multimodal.le32h(lit(36L) + n), lit("57415645"),
      lit("666d7420"), Multimodal.le32h(lit(16L)),
      Multimodal.le16h(lit(7L)), Multimodal.le16h(lit(1L)),
      Multimodal.le32h(lit(8000L)), Multimodal.le32h(lit(8000L)),
      Multimodal.le16h(lit(1L)), Multimodal.le16h(lit(8L)),
      lit("64617461"), Multimodal.le32h(n)
    )
    concat(header, array_join(transform(sequence(lit(0L), n - 1), k => Multimodal.h2(code(k))), ""))
  }

  private def lawN(id: Column): Column = (id % 3 + 7) * N

  def clipTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val id = col("doc_id")
    val base = docs.select(
      id.as("media_id"),
      unhex(pcm16WavHex(lawN(id), sampleLaw(id, 0))).as("payload")
    )
    val shifted = docs
      .filter(id % 5 === 1)
      .select(
        (id + ShiftBase).as("media_id"),
        unhex(pcm16WavHex(lawN(id) - N, sampleLaw(id, N.toLong))).as("payload")
      )
    val companded = docs
      .filter(id % 5 === 3)
      .select(
        (id + CompandBase).as("media_id"),
        unhex(mulawWavHex(lawN(id), codeLaw(id, 0))).as("payload")
      )
    base.unionByName(shifted).unionByName(companded)
  }

  // ---------------------------------------------------------------
  // Windowed spectra.
  // ---------------------------------------------------------------

  /** Per-window AC spectral rows: (media_id, n_windows, t, peak_bin,
    * peak_e, total_e, peak_permille). Samples are extracted ONCE per
    * clip into a bounded array (format-routed: PCM16 bytes or the
    * µ-law companding law), then every window/bin reads the array.
    */
  def windowTable(media: DataFrame): DataFrame = {
    val pcm =
      s"(${Multimodal.byteAtSql("44 + 2 * k")} + 256 * ${Multimodal.byteAtSql("45 + 2 * k")} " +
        s"- (CASE WHEN ${Multimodal.byteAtSql("45 + 2 * k")} >= 128 THEN 65536 ELSE 0 END))"
    val ml = Multimodal.mulawExpandSql(Multimodal.byteAtSql("44 + k"))
    val cqLit = AudioFeatures.CosQ.mkString("array(", "L, ", "L)")
    val sqLit = AudioFeatures.SinQ.mkString("array(", "L, ", "L)")
    val re =
      s"aggregate(sequence(0L, ${N - 1}L), 0L, (a, k) -> a + element_at(samples, cast($N * t + k as int) + 1) " +
        s"* element_at($cqLit, cast((m * k) % $N as int) + 1))"
    val im =
      s"aggregate(sequence(0L, ${N - 1}L), 0L, (a, k) -> a + element_at(samples, cast($N * t + k as int) + 1) " +
        s"* element_at($sqLit, cast((m * k) % $N as int) + 1))"
    val perBin = media
      .withColumn("hdr", lower(hex(substring(col("payload"), 1, 44))))
      .withColumn("fmt", expr(Multimodal.hdrLe16Sql(20)))
      .withColumn("dlen", expr(Multimodal.hdrLe32Sql(40)))
      .withColumn("n", when(col("fmt") === 1, expr("dlen div 2")).otherwise(col("dlen")))
      .withColumn("nw", expr(s"n div $N"))
      .filter(col("nw") >= 1 && (col("fmt") === 1 || col("fmt") === 7))
      .withColumn(
        "samples",
        expr(s"transform(sequence(0L, n - 1L), k -> CASE WHEN fmt = 1 THEN $pcm ELSE $ml END)")
      )
      .select(
        col("media_id"),
        col("nw"),
        col("samples"),
        explode(sequence(lit(0L), col("nw") - 1)).as("t")
      )
      .select(
        col("media_id"),
        col("nw"),
        col("samples"),
        col("t"),
        explode(sequence(lit(1L), lit(Bins.toLong))).as("m")
      )
      .withColumn("xre", expr(s"($re) div 16000"))
      .withColumn("xim", expr(s"($im) div 16000"))
      .select("media_id", "nw", "t", "m", "xre", "xim")
    // Checkpoint the bounded per-bin frame (≤ 9·16 rows/clip): the
    // energy square references xre/xim twice each, and Catalyst's
    // project collapsing would inline the 32-term DFT aggregates (and
    // behind them the whole sample-extraction expression) FOUR times —
    // the plan blows PlanSpec's expression-node cap and the decode
    // would genuinely run once per reference. The checkpoint runs the
    // decode exactly once; blocks release via Lineage.releaseHeld.
    val pb = graft.Lineage.checkpoint(perBin).df
    pb
      .withColumn("e", expr("xre * xre + xim * xim"))
      .groupBy("media_id", "nw", "t")
      .agg(
        max(col("e") * 32 - col("m")).as("pk"),
        sum(col("e")).as("total_e")
      )
      .select(
        col("media_id"),
        col("nw").as("n_windows"),
        col("t"),
        pmod(-col("pk"), lit(32L)).as("peak_bin"),
        expr("(pk + pmod(-pk, 32)) div 32").as("peak_e"),
        col("total_e"),
        when(col("total_e") > 0, expr("((pk + pmod(-pk, 32)) div 32 * 1000) div total_e"))
          .otherwise(0L).as("peak_permille")
      )
  }

  // ---------------------------------------------------------------
  // Landmarks + offset-histogram near-dup.
  // ---------------------------------------------------------------

  /** (media_id, t, v): v packs the (t, t+1, t+2) peak-bin triple plus
    * window t's energy-share bucket. The lead window partitions by
    * media_id over ≤ 9 rows — bounded by construction.
    */
  def landmarkTable(windows: DataFrame): DataFrame = {
    val w = Window.partitionBy("media_id").orderBy("t")
    windows
      .select(col("media_id"), col("n_windows"), col("t"), col("peak_bin"), col("peak_permille"))
      .withColumn("pb1", lead("peak_bin", 1).over(w))
      .withColumn("pb2", lead("peak_bin", 2).over(w))
      .filter(col("pb2").isNotNull)
      .select(
        col("media_id"),
        col("n_windows"),
        col("t"),
        (((col("peak_bin") * 32 + col("pb1")) * 32 + col("pb2")) * 16 +
          least(expr("peak_permille div 125"), lit(15L))).as("v")
      )
  }

  /** Pairs whose aligned-landmark count clears a LENGTH-SCALED bar at
    * one offset: (media_a, media_b, dt, n_matched) — dt = t_a − t_b,
    * so the hop-shifted plant reads dt = 1 and the re-companded plant
    * dt = 0. The bar is max([[MinMatch]], min(windows)/4): an absolute
    * count alone stops discriminating as clips grow (at 64-window
    * clips the `avfeat` probe measured ~84k accidental 3-match pairs
    * from structural step-law aliasing; the scaled bar keeps the
    * near-WHOLE-clip identity contract at any clip length, and leaves
    * the registry fixture's 7..9-window outputs unchanged).
    */
  def nearDupOf(landmarks: DataFrame): DataFrame = {
    // The landmark table feeds the census plus both join sides —
    // checkpoint once so the sample decode + DFT never replays per
    // branch (released via Lineage.releaseHeld, the nearDupOf
    // convention).
    val light = Skew.capHeavy(graft.Lineage.checkpoint(landmarks).df, Seq("v"), MaxBucketSize)
    light
      .select(col("v"), col("media_id").as("media_a"), col("n_windows").as("nw_a"), col("t").as("t_a"))
      .join(
        light.select(col("v"), col("media_id").as("media_b"), col("n_windows").as("nw_b"), col("t").as("t_b")),
        Seq("v")
      )
      .filter(col("media_a") < col("media_b"))
      .groupBy(
        col("media_a"),
        col("media_b"),
        col("nw_a"),
        col("nw_b"),
        (col("t_a") - col("t_b")).as("dt")
      )
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= greatest(lit(MinMatch), expr("least(nw_a, nw_b) div 4")))
      .select("media_a", "media_b", "dt", "n_matched")
  }

  /** media_id / content-source offsets of the incremental batch's
    * NOVEL clips.
    */
  private val NovelBase = 30000000L
  private val NovelSrcOff = 1000000L

  /** Incremental batch: the hop-shifted and re-companded plants plus
    * NOVEL clips whose sample law reads a source id no corpus clip
    * uses.
    */
  def batchClipTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val id = col("doc_id")
    val novelSrc = id + NovelSrcOff
    val shifted = docs
      .filter(id % 5 === 1)
      .select(
        (id + ShiftBase).as("media_id"),
        unhex(pcm16WavHex(lawN(id) - N, sampleLaw(id, N.toLong))).as("payload")
      )
    val companded = docs
      .filter(id % 5 === 3)
      .select(
        (id + CompandBase).as("media_id"),
        unhex(mulawWavHex(lawN(id), codeLaw(id, 0))).as("payload")
      )
    val novel = docs
      .filter(id % 9 === 2)
      .select(
        (id + NovelBase).as("media_id"),
        unhex(pcm16WavHex(lawN(novelSrc), sampleLaw(novelSrc, 0))).as("payload")
      )
    shifted.unionByName(companded).unionByName(novel)
  }

  /** Corpus side of the incremental fixture: base clips only. */
  def corpusClipTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val id = col("doc_id")
    docs.select(
      id.as("media_id"),
      unhex(pcm16WavHex(lawN(id), sampleLaw(id, 0))).as("payload")
    )
  }

  /** Prebuilt, persisted corpus-side landmark index for incremental
    * matching ([[VideoShots.neardupIndexOf]]'s discipline): built
    * once, matched against every delta; the heavy-landmark cap is
    * computed on the CORPUS side, as in every incremental family.
    */
  final case class AudioNeardupIndex(cappedLm: DataFrame) {
    def unpersist(): Unit = { cappedLm.unpersist(); () }
  }

  def neardupIndexOf(corpusLandmarks: DataFrame): AudioNeardupIndex = {
    val lm = graft.Lineage.checkpoint(corpusLandmarks).df
    AudioNeardupIndex(Skew.capHeavy(lm, Seq("v"), MaxBucketSize).persist())
  }

  /** Incremental assignment — the daily-delta shape for the audio
    * family: each batch clip fingerprints once, its landmarks
    * equi-join the corpus index, and a pair MATCHES when some time
    * offset aligns ≥ max([[MinMatch]], min(windows)/4) landmarks (the
    * [[nearDupOf]] rule); a matching clip adopts the EARLIEST (min)
    * matching corpus id, novel clips keep their own identity.
    * Returns (media_id, matched_media, is_new) per batch clip.
    */
  def nearDupIncrementalIndexed(batchLandmarks: DataFrame, index: AudioNeardupIndex): DataFrame = {
    val bl = graft.Lineage.checkpoint(batchLandmarks).df
    val matched = bl
      .select(col("v"), col("media_id"), col("n_windows").as("nw_b"), col("t").as("t_b"))
      .join(
        index.cappedLm
          .select(col("v"), col("media_id").as("c_media"), col("n_windows").as("nw_c"), col("t").as("t_c")),
        Seq("v")
      )
      .groupBy(
        col("media_id"),
        col("c_media"),
        col("nw_b"),
        col("nw_c"),
        (col("t_b") - col("t_c")).as("dt")
      )
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= greatest(lit(MinMatch), expr("least(nw_b, nw_c) div 4")))
      .groupBy("media_id")
      .agg(min(col("c_media")).as("matched_media"))
    bl.select("media_id")
      .distinct()
      .join(matched, Seq("media_id"), "left")
      .select(
        col("media_id"),
        coalesce(col("matched_media"), col("media_id")).as("matched_media"),
        col("matched_media").isNull.as("is_new")
      )
  }

  def nearDupIncrementalOf(batchLandmarks: DataFrame, corpusLandmarks: DataFrame): DataFrame =
    nearDupIncrementalIndexed(batchLandmarks, neardupIndexOf(corpusLandmarks))

  // ---------------------------------------------------------------
  // Oracles.
  // ---------------------------------------------------------------

  /** CTE chain ending in `wout(media_id, nw, t, peak_bin, peak_e,
    * total_e, ppm)` — per-window spectra from the closed-form lattice
    * law (µ-law expansion + quantized-twiddle DFT + trunc-div
    * prescale, the `multimodal_audio_spectrum` arithmetic windowed).
    */
  /** The pairwise queries' media universe: base + shifted + companded. */
  private def baseAudioMSql: String =
    s"""m AS (
       |  SELECT doc_id AS media_id, doc_id AS src, 0 AS off, 32 * (7 + doc_id % 3) AS n
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ShiftBase, doc_id, 32, 32 * (7 + doc_id % 3) - 32
       |  FROM documents WHERE doc_id % 5 = 1
       |  UNION ALL
       |  SELECT doc_id + $CompandBase, doc_id, 0, 32 * (7 + doc_id % 3)
       |  FROM documents WHERE doc_id % 5 = 3)""".stripMargin

  /** The incremental fixture's universe: + novel-content clips. */
  private def incrAudioMSql: String =
    s"""m AS (
       |  SELECT doc_id AS media_id, doc_id AS src, 0 AS off, 32 * (7 + doc_id % 3) AS n
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ShiftBase, doc_id, 32, 32 * (7 + doc_id % 3) - 32
       |  FROM documents WHERE doc_id % 5 = 1
       |  UNION ALL
       |  SELECT doc_id + $CompandBase, doc_id, 0, 32 * (7 + doc_id % 3)
       |  FROM documents WHERE doc_id % 5 = 3
       |  UNION ALL
       |  SELECT doc_id + $NovelBase, doc_id + $NovelSrcOff, 0,
       |    32 * (7 + (doc_id + $NovelSrcOff) % 3)
       |  FROM documents WHERE doc_id % 9 = 2)""".stripMargin

  private def windowCtes(mSql: String): String = {
    val twRows = (0 until N).map(j => s"($j,${AudioFeatures.CosQ(j)},${AudioFeatures.SinQ(j)})").mkString(",")
    // window index of sample (32t + k + off): off is 0 or 32, k < 32,
    // so it is exactly t + off/32; the Lehmer-mixed per-window step
    // mirrors the Scala codeLaw literal for literal. The companding
    // expansion runs ONCE per sample (the `sm` CTE); the 16 bins then
    // aggregate cheap multiply-adds against the twiddle VALUES table —
    // the naive per-(bin, term) expansion was measured ~15× slower.
    val wv = "(t + off // 32)"
    val st = s"(1 + ((src * 48271 + $wv * 9349 + (src % 101) * $wv * 53) % 16381) % 128)"
    val c = s"((src * 31 + $wv * 97 + k * $st) % 256)"
    val u = s"(255 - $c)"
    val ex = s"(($u // 16) % 8)"
    val tt = s"(((($u % 16) * 8) + 132) * (CASE $ex WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END))"
    val smp = s"(CASE WHEN $u >= 128 THEN (132 - $tt) ELSE ($tt - 132) END)"
    s"""$mSql,
       |w AS (
       |  SELECT media_id, src, off, n // 32 AS nw, t.i AS t
       |  FROM m, (SELECT unnest(range(9)) AS i) t WHERE t.i < n // 32),
       |tw(j, cv, sv) AS (VALUES $twRows),
       |sm AS (
       |  SELECT media_id, nw, t, ks.k AS k, $smp AS s
       |  FROM w, (SELECT unnest(range($N)) AS k) ks),
       |xe AS (
       |  SELECT sm.media_id, sm.nw, sm.t, bm.i AS bin,
       |    sum(sm.s * tw.cv) AS xre,
       |    sum(sm.s * tw.sv) AS xim
       |  FROM sm
       |  CROSS JOIN (SELECT unnest(range(1, ${Bins + 1})) AS i) bm
       |  JOIN tw ON tw.j = (bm.i * sm.k) % $N
       |  GROUP BY 1, 2, 3, 4),
       |en AS (
       |  SELECT media_id, nw, t, bin,
       |    (CASE WHEN xre >= 0 THEN xre // 16000 ELSE -((-xre) // 16000) END) *
       |    (CASE WHEN xre >= 0 THEN xre // 16000 ELSE -((-xre) // 16000) END) +
       |    (CASE WHEN xim >= 0 THEN xim // 16000 ELSE -((-xim) // 16000) END) *
       |    (CASE WHEN xim >= 0 THEN xim // 16000 ELSE -((-xim) // 16000) END) AS e
       |  FROM xe),
       |agg AS (
       |  SELECT media_id, nw, t,
       |    max(e * 32 - bin) AS pk, sum(e) AS total_e
       |  FROM en GROUP BY 1, 2, 3),
       |wout AS (
       |  SELECT media_id, nw, t,
       |    (-pk % 32 + 32) % 32 AS peak_bin,
       |    (pk + ((-pk % 32 + 32) % 32)) // 32 AS peak_e,
       |    total_e,
       |    CASE WHEN total_e > 0
       |      THEN ((pk + ((-pk % 32 + 32) % 32)) // 32 * 1000) // total_e ELSE 0 END AS ppm
       |  FROM agg)""".stripMargin
  }

  private def windowsOracle: String =
    s"""WITH ${windowCtes(baseAudioMSql)}
       |SELECT media_id, CAST(nw AS BIGINT) AS n_windows, CAST(t AS BIGINT) AS t,
       |  CAST(peak_bin AS BIGINT) AS peak_bin, CAST(peak_e AS BIGINT) AS peak_e,
       |  CAST(total_e AS BIGINT) AS total_e, CAST(ppm AS BIGINT) AS peak_permille
       |FROM wout""".stripMargin

  private def nearDupOracle: String =
    s"""WITH ${windowCtes(baseAudioMSql)},
       |lm0 AS (
       |  SELECT media_id, nw, t, peak_bin AS pb0,
       |    lead(peak_bin, 1) OVER win AS pb1,
       |    lead(peak_bin, 2) OVER win AS pb2,
       |    ppm AS ppm0
       |  FROM wout WINDOW win AS (PARTITION BY media_id ORDER BY t)),
       |lm AS (
       |  SELECT media_id, nw, t,
       |    ((pb0 * 32 + pb1) * 32 + pb2) * 16 + least(ppm0 // 125, 15) AS v
       |  FROM lm0 WHERE pb2 IS NOT NULL),
       |light AS (
       |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY v) AS cn FROM lm) _l
       |  WHERE cn <= $MaxBucketSize)
       |SELECT a.media_id AS media_a, b.media_id AS media_b,
       |  CAST(a.t - b.t AS BIGINT) AS dt, count(*) AS n_matched
       |FROM light a JOIN light b ON a.v = b.v AND a.media_id < b.media_id
       |GROUP BY a.media_id, b.media_id, a.nw, b.nw, a.t - b.t
       |HAVING count(*) >= greatest($MinMatch, least(a.nw, b.nw) // 4)""".stripMargin

  private val windowsQ = Q(
    "multimodal_audio_windows",
    (s, d) => windowTable(clipTable(s, d)),
    Some(windowsOracle)
  )

  private val nearDupQ = Q(
    "dedup_audio_neardup",
    (s, d) => nearDupOf(landmarkTable(windowTable(clipTable(s, d)))),
    Some(nearDupOracle)
  )

  private def incrementalOracle: String =
    s"""WITH ${windowCtes(incrAudioMSql)},
       |lm0 AS (
       |  SELECT media_id, nw, t, peak_bin AS pb0,
       |    lead(peak_bin, 1) OVER win AS pb1,
       |    lead(peak_bin, 2) OVER win AS pb2,
       |    ppm AS ppm0
       |  FROM wout WINDOW win AS (PARTITION BY media_id ORDER BY t)),
       |lm AS (
       |  SELECT media_id, nw, t,
       |    ((pb0 * 32 + pb1) * 32 + pb2) * 16 + least(ppm0 // 125, 15) AS v
       |  FROM lm0 WHERE pb2 IS NOT NULL),
       |cl AS (SELECT * FROM lm WHERE media_id < $ShiftBase),
       |blm AS (SELECT * FROM lm WHERE media_id >= $ShiftBase),
       |heavy AS (SELECT v FROM cl GROUP BY v HAVING count(*) > $MaxBucketSize),
       |ccap AS (SELECT * FROM cl WHERE v NOT IN (SELECT v FROM heavy)),
       |hist AS (
       |  SELECT b.media_id, c.media_id AS c_media, b.t - c.t AS dt, count(*) AS nm
       |  FROM blm b JOIN ccap c ON c.v = b.v
       |  GROUP BY b.media_id, c.media_id, b.nw, c.nw, b.t - c.t
       |  HAVING count(*) >= greatest($MinMatch, least(b.nw, c.nw) // 4)),
       |mt AS (SELECT media_id, min(c_media) AS matched_media FROM hist GROUP BY 1)
       |SELECT b.media_id,
       |  coalesce(mt.matched_media, b.media_id) AS matched_media,
       |  mt.matched_media IS NULL AS is_new
       |FROM (SELECT DISTINCT media_id FROM lm WHERE media_id >= $ShiftBase) b
       |LEFT JOIN mt USING (media_id)""".stripMargin

  private val incrementalQ = Q(
    "dedup_audio_neardup_incremental",
    (s, d) =>
      nearDupIncrementalOf(
        landmarkTable(windowTable(batchClipTable(s, d))),
        landmarkTable(windowTable(corpusClipTable(s, d)))
      ),
    Some(incrementalOracle)
  )

  private val replayQ = Q(
    // The AudioStream foreachBatch contract: per-micro-batch
    // fingerprint + assignment against a STATIC prebuilt corpus
    // landmark index, unioned across batches == one-shot (batch clips
    // are independent by contract). Same oracle certifies it.
    "stream_audio_neardup_replay",
    (s, d) => {
      val index = neardupIndexOf(landmarkTable(windowTable(corpusClipTable(s, d))))
      val batchLm = landmarkTable(windowTable(batchClipTable(s, d)))
      val b1 = batchLm.filter(pmod(col("media_id"), lit(2)) === 0)
      val b2 = batchLm.filter(pmod(col("media_id"), lit(2)) === 1)
      nearDupIncrementalIndexed(b1, index)
        .unionByName(nearDupIncrementalIndexed(b2, index))
    },
    Some(incrementalOracle)
  )

  val all: Seq[Q] = Seq(windowsQ, nearDupQ, incrementalQ, replayQ)
}
