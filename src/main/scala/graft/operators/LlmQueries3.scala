package graft.operators

import graft.Q
import graft.functions.TextFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SimHash near-dup pairing and best-record selection. */
object LlmQueries3 {

  val all: Seq[Q] = Seq(
    Q(
      // SimHash near-duplicates by pigeonhole banding on SEGMENT PAIRS:
      // 64 bits split into 8 segments of 8; a pair within Hamming
      // distance 6 has at least 2 intact segments, i.e. SOME pair (i,j)
      // of segments matches exactly — so candidates come from an
      // equi-join on the C(8,2)=28 concatenated segment-pair keys and
      // are then verified exactly at <= 6 of 64 bits (the same ~90%
      // bit-agreement sensitivity as the original 3-of-32 threshold; a
      // bare 3-of-64 would silently tighten the bar and drop most true
      // near-dups). The pair keys are 16 bits wide (65,536 buckets per
      // combination), so natural segment skew stays far below the
      // heavy-bucket cap — single 8-bit segments (256 buckets) saturate
      // it from skew alone by a few thousand docs (observed at sf0.1).
      "docs_simhash_neardup",
      (s, d) => {
        val sh = LlmQueries
          .corpus(s, d)
          .select(col("doc_id"), simhash(col("text"), 64).as("bits"))
        // Manku et al. 2007 (WWW, "Detecting Near-Duplicates for Web
        // Crawling") block scheme, sized for hamming ≤ 6: nine blocks
        // (one 8-bit + eight 7-bit), keys = every 3-block combination
        // (C(9,3) = 84 tables, ~22-bit exact-match keys). Any pair
        // within distance 6 dirties ≤ 6 blocks, leaving ≥ 3 clean, so
        // some combo matches exactly — recall is GUARANTEED, identical
        // to the previous 8-choose-2 scheme. The wider keys are the
        // scale knob: the sf1 sweep caught the 16-bit keys generating
        // birthday/correlation candidates quadratically (21 min at 50k
        // docs); each extra exact-match block multiplies a
        // below-threshold pair's collision odds by (1 − ham/64)^7.
        val blockStart = (b: Int) => if (b == 0) 1 else 9 + (b - 1) * 7
        val blockLen = (b: Int) => if (b == 0) 8 else 7
        val combos = for {
          i <- 0 until 9
          j <- i + 1 until 9
          l <- j + 1 until 9
        } yield struct(
          lit(i * 100 + j * 10 + l).as("combo"),
          concat(
            substring(col("bits"), blockStart(i), blockLen(i)),
            substring(col("bits"), blockStart(j), blockLen(j)),
            substring(col("bits"), blockStart(l), blockLen(l))
          ).as("seg")
        )
        val segs = sh
          .select(col("doc_id"), col("bits"), explode(array(combos: _*)).as("c"))
          .select(col("doc_id"), col("bits"), col("c.combo").as("combo"), col("c.seg").as("seg"))
          .persist()
        // Heavy-bucket guard (see LlmQueries.MaxBucketSize): boilerplate
        // corpora put every copy's segment pairs in the same buckets,
        // making the self-join quadratic in copy count. Capped via
        // broadcast anti-join; never fires on the test corpus, so the
        // oracle is unchanged.
        val capped = Skew.capHeavy(segs, Seq("combo", "seg"), LlmQueries.MaxBucketSize)
        val a = capped.select(col("doc_id").as("doc_a"), col("bits").as("bits_a"), col("combo"), col("seg"))
        val b = capped.select(col("doc_id").as("doc_b"), col("bits").as("bits_b"), col("combo"), col("seg"))
        // Hamming via integer XOR popcount over two 32-bit halves —
        // the 64-substring-comparison form cost ~64 string ops per
        // candidate, the dominant term of the sf1 outlier.
        def half(c: Column, start: Int): Column =
          conv(substring(c, start, 32), 2, 10).cast("long")
        val hamming = (
          bit_count(half(col("bits_a"), 1).bitwiseXOR(half(col("bits_b"), 1))) +
            bit_count(half(col("bits_a"), 33).bitwiseXOR(half(col("bits_b"), 33)))
        ).cast("int")
        a.join(b, Seq("combo", "seg"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("bits_a"), col("bits_b"))
          .distinct()
          .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
          .filter(col("hamming") <= 6)
      },
      Some {
        val corpus = """corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL
          |  SELECT doc_id + 200000, text || ' extra tail words appended here' FROM documents WHERE doc_id % 10 = 5
          |)""".stripMargin
        val bit =
          "cast(floor((strpos('0123456789abcdef', substr(md5(w), cast((b - (b % 4)) / 4 as int) + 1, 1)) - 1) / ([8,4,2,1])[(b % 4) + 1]) as int) % 2"
        val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
        s"""WITH $corpus,
           |n AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM corpus),
           |sh AS (SELECT doc_id,
           |  array_to_string(list_transform(range(0, 64), b ->
           |    CASE WHEN list_sum(list_transform(ws, w -> ($bit) * 2 - 1)) >= 0
           |         THEN '1' ELSE '0' END), '') AS bits
           |  FROM n),
           |sx AS (SELECT doc_id, bits, i * 8 + j AS combo,
           |  substr(bits, cast(i * 8 + 1 as int), 8) || substr(bits, cast(j * 8 + 1 as int), 8) AS seg
           |  FROM sh, range(0, 8) _i(i), range(0, 8) _j(j) WHERE i < j),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.bits AS bits_a, b.bits AS bits_b
           |  FROM sx a JOIN sx b ON a.combo = b.combo AND a.seg = b.seg AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3, 4
           |)
           |SELECT doc_a, doc_b,
           |  len(list_filter(range(1, 65), i -> substr(bits_a, i, 1) != substr(bits_b, i, 1))) AS hamming
           |FROM pairs
           |WHERE len(list_filter(range(1, 65), i -> substr(bits_a, i, 1) != substr(bits_b, i, 1))) <= 6""".stripMargin
      }
    ),
    Q(
      // Best-record selection for merged dedup groups (reference:
      // Solr/SolrUpdater.php merged-record building prefers records by
      // source priority): pick the representative per cluster and carry
      // its fields onto the merged document.
      "merge_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val recs = DedupQueries.records(s, d)
        val clustered = Dedup
          .dedupRecords(recs)
          .filter(col("dedup_id").isNotNull)
          .join(recs, Seq("id"))
        val w = Window.partitionBy("dedup_id").orderBy(col("source_id"), col("id"))
        clustered
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("dedup_id"),
            col("id").as("best_id"),
            col("title").as("best_title"),
            col("year").as("best_year")
          )
      },
      Some {
        s"""WITH ${DedupQueries.recordsAndEdgesSql},
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id),
           |joined AS (SELECT l.dedup_id, r.* FROM recs r JOIN labels l ON r.id = l.id),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY dedup_id ORDER BY source_id, id) AS rn FROM joined)
           |SELECT dedup_id, id AS best_id, title AS best_title, year AS best_year
           |FROM ranked WHERE rn = 1""".stripMargin
      }
    )
  )

}
