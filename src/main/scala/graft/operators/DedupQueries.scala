package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import MetadataQueries._

/** Dedup pipeline registrations.
  *
  * The records are synthesized deterministically from `part`: each part
  * appears once in source `a` (clean) and once in source `b` (case/
  * punctuation-perturbed title — same normalized keys), with controlled
  * conflicts: every 7th record disagrees on year, every 11th on author,
  * every 5th carries a shared ISBN (which, per the reference, matches
  * regardless of the year conflict). Components are therefore exactly
  * cross-source pairs, so the DuckDB oracle can assign cluster ids with a
  * single min-label step; the Spark pipeline runs the general iterative
  * propagation and converges to the same labels. Multi-hop components are
  * covered by the ScalaTest fixture specs instead.
  */
object DedupQueries {

  /** Synthesized dedup corpus: two sources derived from `part`. */
  def records(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val k = col("p_partkey")
    val title = concat(lit("rec"), k.cast("string"), lit(" "), col("p_name"))
    val author = array_join(slice(split(col("p_name"), " "), 1, 2), " ")
    val year = (lit(1900) + k % 100).cast("int")
    val base = lpad((k * 7919 % 1000000000).cast("string"), 9, "0")
    val checkChar = graft.functions.MetadataFunctions.isbn10CheckChar(base)
    val isbn = when(k % 5 === 0, concat(base, checkChar)).otherwise(lit(""))
    val pages = (lit(100) + k % 400).cast("int")
    val a = p.select(
      concat(lit("a."), k.cast("string")).as("id"),
      lit("a").as("source_id"),
      title.as("title"),
      author.as("author"),
      year.as("year"),
      isbn.as("isbn"),
      pages.as("pages"),
      when(k % 17 === 0, lit("0001-1111")).otherwise(lit("")).as("series_issn"),
      lit("").as("series_numbering")
    )
    val b = p.select(
      concat(lit("b."), k.cast("string")).as("id"),
      lit("b").as("source_id"),
      concat(upper(title), lit(" /")).as("title"),
      when(k % 11 === 0, lit("zz nobody")).otherwise(author).as("author"),
      when(k % 7 === 0, year + 1).otherwise(year).cast("int").as("year"),
      isbn.as("isbn"),
      when(k % 13 === 0, pages + 15).otherwise(pages).cast("int").as("pages"),
      when(k % 17 === 0, lit("0002-2222")).otherwise(lit("")).as("series_issn"),
      lit("").as("series_numbering")
    )
    a.union(b)
  }

  /** DuckDB CTE mirroring [[records]] plus the dedup keys. */
  private[operators] def recordsSql: String = {
    val base = "lpad(cast(p_partkey*7919 % 1000000000 as varchar), 9, '0')"
    val title = "'rec' || cast(p_partkey as varchar) || ' ' || p_name"
    val author = "array_to_string(string_split(p_name, ' ')[1:2], ' ')"
    s"""recs0 AS (
       |  SELECT 'a.' || cast(p_partkey as varchar) AS id, 'a' AS source_id,
       |    $title AS title, $author AS author,
       |    cast(1900 + p_partkey % 100 as int) AS year,
       |    (CASE WHEN p_partkey % 5 = 0 THEN b || ${isbn10CheckCharSql("b")} ELSE '' END) AS isbn,
       |    cast(100 + p_partkey % 400 as int) AS pages,
       |    (CASE WHEN p_partkey % 17 = 0 THEN '0001-1111' ELSE '' END) AS series_issn,
       |    '' AS series_numbering
       |  FROM (SELECT *, $base AS b FROM part) _pa
       |  UNION ALL
       |  SELECT 'b.' || cast(p_partkey as varchar) AS id, 'b' AS source_id,
       |    upper($title) || ' /' AS title,
       |    (CASE WHEN p_partkey % 11 = 0 THEN 'zz nobody' ELSE $author END) AS author,
       |    cast(CASE WHEN p_partkey % 7 = 0 THEN 1901 + p_partkey % 100 ELSE 1900 + p_partkey % 100 END as int) AS year,
       |    (CASE WHEN p_partkey % 5 = 0 THEN b || ${isbn10CheckCharSql("b")} ELSE '' END) AS isbn,
       |    cast(CASE WHEN p_partkey % 13 = 0 THEN 115 + p_partkey % 400 ELSE 100 + p_partkey % 400 END as int) AS pages,
       |    (CASE WHEN p_partkey % 17 = 0 THEN '0002-2222' ELSE '' END) AS series_issn,
       |    '' AS series_numbering
       |  FROM (SELECT *, $base AS b FROM part) _pb
       |),
       |recs1 AS (
       |  SELECT *, regexp_extract(replace(isbn, '-', ''), '([0-9]{9,12}[0-9xX])', 1) AS m
       |  FROM recs0
       |),
       |recs AS (
       |  SELECT id, source_id, title, author, year, isbn,
       |    pages, series_issn, series_numbering,
       |    ${titleKeySql("title")} AS title_key,
       |    ${nkSql("title")} AS norm_title,
       |    ${nkSql("author")} AS norm_author,
       |    ${normIsbnSql("m")} AS isbn_key
       |  FROM recs1
       |)""".stripMargin
  }

  /** matchRecords predicate over aliased pair columns (mirrors
    * Dedup.matchPredicate; reference DedupHandler.php:742).
    */
  private[operators] def matchSql: String = {
    val tLev =
      "levenshtein(substr(r1.norm_title,1,255), substr(r2.norm_title,1,255)) * 100.0"
    val titleOk =
      s"r1.norm_title != '' AND r2.norm_title != '' AND " +
        s"($tLev / length(r1.norm_title) < 10 OR $tLev / length(r2.norm_title) < 10)"
    val aLev =
      "levenshtein(substr(r1.norm_author,1,255), substr(r2.norm_author,1,255)) * 100.0"
    val authorOk =
      "((r1.norm_author = '' AND r2.norm_author = '') OR (r1.norm_author != '' AND r2.norm_author != '' AND (" +
        authorMatchSql("r1.norm_author", "r2.norm_author") +
        s" OR $aLev / length(r1.norm_author) <= 20 OR $aLev / length(r2.norm_author) <= 20)))"
    val pagesOk =
      "(r1.pages IS NULL OR r2.pages IS NULL OR abs(r1.pages - r2.pages) <= 10)"
    val seriesOk =
      "(r1.series_issn = r2.series_issn AND r1.series_numbering = r2.series_numbering)"
    s"((r1.isbn_key != '' AND r1.isbn_key = r2.isbn_key) OR " +
      s"((r1.year = r2.year OR r1.year IS NULL OR r2.year IS NULL) AND $pagesOk AND $seriesOk AND $titleOk AND $authorOk))"
  }

  /** records + edges CTE block, shared with other oracle queries that
    * build on the dedup pipeline (e.g. merge_best).
    */
  def recordsAndEdgesSql: String = s"$recordsSql, $edgesSql"

  private def edgesSql: String =
    s"""edges AS (
       |  SELECT r1.id AS id_1, r2.id AS id_2 FROM recs r1 JOIN recs r2
       |  ON ((r1.title_key != '' AND r1.title_key = r2.title_key)
       |      OR (r1.isbn_key != '' AND r1.isbn_key = r2.isbn_key))
       |    AND r1.source_id != r2.source_id AND r1.id < r2.id
       |  WHERE $matchSql
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** New-batch records for the incremental query: source `c`, every even
    * key a case-perturbed duplicate of the corpus title, odd keys unique.
    */
  def batchRecords(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val k = col("p_partkey")
    val title = concat(lit("rec"), k.cast("string"), lit(" "), col("p_name"))
    val author = array_join(slice(split(col("p_name"), " "), 1, 2), " ")
    p.select(
      concat(lit("c."), k.cast("string")).as("id"),
      lit("c").as("source_id"),
      when(k % 2 === 0, concat(lower(title), lit(" ;")))
        .otherwise(concat(lit("zzz unique "), k.cast("string"))).as("title"),
      author.as("author"),
      (lit(1900) + k % 100).cast("int").as("year"),
      lit("").as("isbn"),
      (lit(100) + k % 400).cast("int").as("pages"),
      lit("").as("series_issn"),
      lit("").as("series_numbering")
    )
  }

  private def batchSql: String = {
    val title = "'rec' || cast(p_partkey as varchar) || ' ' || p_name"
    val author = "array_to_string(string_split(p_name, ' ')[1:2], ' ')"
    s"""batch0 AS (
       |  SELECT 'c.' || cast(p_partkey as varchar) AS id, 'c' AS source_id,
       |    (CASE WHEN p_partkey % 2 = 0 THEN lower($title) || ' ;'
       |          ELSE 'zzz unique ' || cast(p_partkey as varchar) END) AS title,
       |    $author AS author,
       |    cast(1900 + p_partkey % 100 as int) AS year, '' AS isbn,
       |    cast(100 + p_partkey % 400 as int) AS pages,
       |    '' AS series_issn, '' AS series_numbering
       |  FROM part),
       |batchk AS (
       |  SELECT id, source_id, title, author, year, isbn,
       |    pages, series_issn, series_numbering,
       |    ${titleKeySql("title")} AS title_key,
       |    ${nkSql("title")} AS norm_title,
       |    ${nkSql("author")} AS norm_author,
       |    '' AS isbn_key
       |  FROM batch0
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      // The same pipeline over the bucketed stored layout: the exploded
      // blocking-key frame, heavy blocks already capped, is written ONCE
      // bucketed by (kind, key) at the session's shuffle partitions — on
      // the first call, i.e. the bench's untimed warmup — and the timed
      // passes read it back with the candidate self-join consuming the
      // stored hash partitioning (zero Exchange, no aggregate;
      // BucketingSpec-asserted). Identical output to dedup_records, same
      // oracle; the bench delta vs dedup_records IS the shuffle and cap
      // the bucketed layout amortizes into the write.
      "dedup_records_bucketed",
      (s, d) => {
        val tag = d.replaceAll("[^A-Za-z0-9]", "_")
        Dedup
          .dedupRecordsBucketed(
            records(s, d),
            table = s"graft_dedup_keys$tag",
            path = s"/tmp/graft_bucketed$tag/dedup_keys"
          )
          .select("id", "dedup_id")
      },
      Some(
        s"""WITH $recordsSql, $edgesSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id)
           |SELECT r.id, l.dedup_id FROM recs r LEFT JOIN labels l ON r.id = l.id""".stripMargin
      ),
      bench = true
    ),
    Q(
      "dedup_records",
      (s, d) => Dedup.dedupRecords(records(s, d)).select("id", "dedup_id"),
      Some(
        s"""WITH $recordsSql, $edgesSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id)
           |SELECT r.id, l.dedup_id FROM recs r LEFT JOIN labels l ON r.id = l.id""".stripMargin
      ),
      bench = true
    ),
    Q(
      // Deletion maintenance (reference: DedupHandler.php
      // removeFromDedupRecord:139): delete every 9th source-b record and
      // every 18th source-a record (so some groups lose one member and
      // dissolve to a lone survivor, some lose both and vanish), then
      // apply the group-dissolution rule. No re-matching — reference
      // semantics preserve surviving group membership as-is.
      "dedup_retract",
      (s, d) => {
        val recs = records(s, d)
        val clustered = Dedup.dedupRecords(recs)
        val k = col("p_partkey")
        val p = Tables.part(s, d)
        val deleted = p
          .filter(k % 9 === 0)
          .select(concat(lit("b."), k.cast("string")).as("id"))
          .union(
            p.filter(k % 18 === 0)
              .select(concat(lit("a."), k.cast("string")).as("id"))
          )
        Dedup.dedupRetract(clustered, deleted).select("id", "dedup_id")
      },
      Some {
        val del =
          "((id LIKE 'b.%' AND try_cast(substr(id, 3) AS int) % 9 = 0) OR " +
            "(id LIKE 'a.%' AND try_cast(substr(id, 3) AS int) % 18 = 0))"
        s"""WITH $recordsSql, $edgesSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id),
           |fullc AS (SELECT r.id, l.dedup_id FROM recs r LEFT JOIN labels l ON r.id = l.id),
           |rem AS (SELECT * FROM fullc WHERE NOT $del),
           |aff AS (SELECT DISTINCT dedup_id FROM fullc WHERE $del AND dedup_id IS NOT NULL),
           |sizes AS (SELECT rem.dedup_id, count(*) AS n
           |          FROM rem JOIN aff ON rem.dedup_id = aff.dedup_id
           |          GROUP BY rem.dedup_id)
           |SELECT rem.id,
           |  (CASE WHEN s.n = 1 THEN NULL ELSE rem.dedup_id END) AS dedup_id
           |FROM rem LEFT JOIN sizes s ON rem.dedup_id = s.dedup_id""".stripMargin
      }
    ),
    Q(
      "dedup_incremental",
      (s, d) => {
        val recs = records(s, d)
        val clustered = Dedup
          .dedupRecords(recs)
          .filter(col("dedup_id").isNotNull)
          .join(recs, Seq("id"))
          .persist() // feeds the candidate join; avoid re-running dedup
        Dedup.dedupIncremental(batchRecords(s, d), clustered)
      },
      Some(
        s"""WITH $recordsSql, $edgesSql, $batchSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id),
           |corpusk AS (SELECT r.*, l.dedup_id FROM recs r JOIN labels l ON r.id = l.id),
           |matched AS (
           |  SELECT r1.id AS id, min(r2.dedup_id) AS dedup_id
           |  FROM batchk r1 JOIN corpusk r2
           |    ON ((r1.title_key != '' AND r1.title_key = r2.title_key)
           |        OR (r1.isbn_key != '' AND r1.isbn_key = r2.isbn_key))
           |      AND r1.source_id != r2.source_id
           |  WHERE $matchSql
           |  GROUP BY r1.id
           |)
           |SELECT b.id, m.dedup_id FROM batchk b LEFT JOIN matched m ON b.id = m.id""".stripMargin
      )
    ),
    Q(
      // DedupStream.incremental's foreachBatch contract as a hard oracle
      // row: the delta split into two micro-batches, each assigned
      // against the SAME static clustered corpus (exactly what the
      // stream's per-batch call does), results unioned — must equal the
      // one-shot incremental assignment, i.e. the identical oracle.
      "stream_dedup_replay",
      (s, d) => {
        val recs = records(s, d)
        val clustered = Dedup
          .dedupRecords(recs)
          .filter(col("dedup_id").isNotNull)
          .join(recs, Seq("id"))
          .persist()
        val batch = batchRecords(s, d)
        val b1 = batch.filter(abs(hash(col("id"))) % 2 === 0)
        val b2 = batch.filter(abs(hash(col("id"))) % 2 === 1)
        Dedup
          .dedupIncremental(b1, clustered)
          .unionByName(Dedup.dedupIncremental(b2, clustered))
      },
      Some(
        s"""WITH $recordsSql, $edgesSql, $batchSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id),
           |corpusk AS (SELECT r.*, l.dedup_id FROM recs r JOIN labels l ON r.id = l.id),
           |matched AS (
           |  SELECT r1.id AS id, min(r2.dedup_id) AS dedup_id
           |  FROM batchk r1 JOIN corpusk r2
           |    ON ((r1.title_key != '' AND r1.title_key = r2.title_key)
           |        OR (r1.isbn_key != '' AND r1.isbn_key = r2.isbn_key))
           |      AND r1.source_id != r2.source_id
           |  WHERE $matchSql
           |  GROUP BY r1.id
           |)
           |SELECT b.id, m.dedup_id FROM batchk b LEFT JOIN matched m ON b.id = m.id""".stripMargin
      )
    ),
    Q(
      // The incremental daily-delta path over the bucketed stored corpus:
      // the corpus's capped exploded keys (with dedup_id) are written once
      // bucketed by (kind, key) at the session's shuffle partitions; each
      // call reads that layout once, as stored, and only the delta
      // shuffles to match. Identical output to dedup_incremental, same
      // oracle. `clustered` is passed by name and feeds only the layout
      // write, so the corpus is clustered only when the layout is written.
      "dedup_incremental_bucketed",
      (s, d) => {
        val recs = records(s, d)
        val tag = d.replaceAll("[^A-Za-z0-9]", "_")
        Dedup.dedupIncrementalBucketed(
          batchRecords(s, d),
          Dedup.dedupRecords(recs).filter(col("dedup_id").isNotNull).join(recs, Seq("id")),
          table = s"graft_dedup_corpus$tag",
          path = s"/tmp/graft_bucketed$tag/dedup_corpus"
        )
      },
      Some(
        s"""WITH $recordsSql, $edgesSql, $batchSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id),
           |corpusk AS (SELECT r.*, l.dedup_id FROM recs r JOIN labels l ON r.id = l.id),
           |matched AS (
           |  SELECT r1.id AS id, min(r2.dedup_id) AS dedup_id
           |  FROM batchk r1 JOIN corpusk r2
           |    ON ((r1.title_key != '' AND r1.title_key = r2.title_key)
           |        OR (r1.isbn_key != '' AND r1.isbn_key = r2.isbn_key))
           |      AND r1.source_id != r2.source_id
           |  WHERE $matchSql
           |  GROUP BY r1.id
           |)
           |SELECT b.id, m.dedup_id FROM batchk b LEFT JOIN matched m ON b.id = m.id""".stripMargin
      )
    ),
    Q(
      "dedup_merged",
      (s, d) => {
        val recs = records(s, d)
        val clustered = Dedup
          .dedupRecords(recs)
          .filter(col("dedup_id").isNotNull)
          .join(recs, Seq("id"))
        clustered
          .groupBy("dedup_id")
          .agg(
            count(lit(1)).as("n_members"),
            array_join(array_sort(collect_list(col("id"))), ",").as("member_ids"),
            array_join(array_sort(collect_set(col("source_id"))), ",").as("sources"),
            min(col("year")).as("min_year")
          )
      },
      Some(
        s"""WITH $recordsSql, $edgesSql,
           |sym AS (SELECT id_1 AS id, id_2 AS peer FROM edges
           |        UNION ALL SELECT id_2, id_1 FROM edges),
           |labels AS (SELECT id, least(min(peer), id) AS dedup_id FROM sym GROUP BY id)
           |SELECT l.dedup_id, count(*) AS n_members,
           |  string_agg(r.id, ',' ORDER BY r.id) AS member_ids,
           |  string_agg(DISTINCT r.source_id, ',' ORDER BY r.source_id) AS sources,
           |  min(r.year) AS min_year
           |FROM recs r JOIN labels l ON r.id = l.id
           |GROUP BY l.dedup_id""".stripMargin
      )
    )
  )
}
