package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Two more training-data pipeline staples:
  *
  * `docs_segment_dedup` — cross-document duplicated-span statistics (the
  * CCNet/RefinedWeb "line dedup" adapted to unsegmented text): each
  * document chunks into fixed 8-word segments, segment hashes count
  * occurrences across the whole corpus (one hash-shuffle on the segment
  * hash), and each document reports how much of it is corpus-common
  * boilerplate. At 100 TB this is exactly two bounded-key shuffles:
  * explode→count on the hash, join back on the hash, re-aggregate on
  * doc_id.
  *
  * `docs_pii_scrub` — PII redaction (emails / phone numbers / IPv4) with
  * per-class counts, as pure regexp column expressions; patterns are
  * RE2-compatible so the DuckDB oracle runs the identical regexes.
  */
object LlmQueries6 {

  private val SegWords = 8
  private val CommonDocThreshold = 5

  /** The segment-dedup pipeline over any (doc_id, text) frame — shared by
    * the registered query and ScaleProbe.
    */
  def segmentStatsOf(input: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // bindOnce: projection collapse would inline the normalize+split
    // subtree into every per-segment slice — O(n²) per document.
    val docs = input
      .select(
        col("doc_id"),
        graft.functions.MetadataFunctions.bindOnce(words(col("text"))) { ws =>
          transform(
            sequence(lit(0), ((size(ws) - 1) / SegWords).cast("int")),
            i => md5(array_join(slice(ws, i * SegWords + 1, lit(SegWords)), " "))
          )
        }.as("seg_hashes")
      )
    // Eager checkpoint, not lazy persist: the census aggregate and the
    // join-back side are independent shuffle stages that AQE
    // materializes concurrently — a cold lazy cache runs the
    // normalize+segment+md5 pass twice (measured as two full-corpus
    // single-task stages in the round-13 profile). Blocks released by
    // the consumer via Lineage.releaseHeld.
    val segs = graft.Lineage.checkpoint(
      docs.select(col("doc_id"), explode(col("seg_hashes")).as("seg_hash"))
    ).df
    val counts = segs
      .groupBy("seg_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    segs
      .join(counts, Seq("seg_hash"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("n_docs") >= CommonDocThreshold, 1L).otherwise(0L))
          .as("n_common"),
        round(
          sum(when(col("n_docs") >= CommonDocThreshold, 1.0).otherwise(0.0)) /
            count(lit(1)),
          4
        ).as("common_ratio")
      )
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+\\d{3}-\\d{2}-\\d{6}"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  val all: Seq[Q] = Seq(
    Q(
      "docs_segment_dedup",
      (s, d) => segmentStatsOf(Tables.documents(s, d)),
      Some {
        val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
        s"""WITH w AS (
           |  SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
           |segs AS (
           |  SELECT doc_id,
           |    unnest(list_transform(range(0, cast(floor((len(ws) - 1) / $SegWords) as int) + 1),
           |      i -> md5(array_to_string(ws[i * $SegWords + 1 : i * $SegWords + $SegWords], ' ')))) AS seg_hash
           |  FROM w),
           |counts AS (
           |  SELECT seg_hash, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg_hash)
           |SELECT s.doc_id,
           |  count(*) AS n_segments,
           |  cast(sum(CASE WHEN c.n_docs >= $CommonDocThreshold THEN 1 ELSE 0 END) as bigint) AS n_common,
           |  round(sum(CASE WHEN c.n_docs >= $CommonDocThreshold THEN 1.0 ELSE 0.0 END) / count(*), 4) AS common_ratio
           |FROM segs s JOIN counts c ON s.seg_hash = c.seg_hash
           |GROUP BY s.doc_id""".stripMargin
      },
      bench = true
    ),
    Q(
      "docs_pii_scrub",
      (s, d) => {
        val k = col("doc_id")
        val withPii = Tables
          .documents(s, d)
          .select(
            k,
            concat(
              col("text"),
              when(k % 3 === 0, concat(lit(" contact user"), k.cast("string"), lit("@example.com")))
                .otherwise(lit("")),
              when(k % 3 === 1, concat(lit(" call +358-40-"), lpad((k % 1000000).cast("string"), 6, "0")))
                .otherwise(lit("")),
              when(k % 3 === 2, concat(lit(" from 10.0."), (k % 256).cast("string"), lit("."), (k % 250 + 1).cast("string")))
                .otherwise(lit("")),
              when(k % 5 === 0, concat(lit(" cc admin"), k.cast("string"), lit("@example.org")))
                .otherwise(lit(""))
            ).as("text")
          )
        withPii.select(
          k,
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), EmailRe, "[EMAIL]"),
              IpRe,
              "[IP]"
            ),
            PhoneRe,
            "[PHONE]"
          ).as("scrubbed"),
          regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
          regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"),
          regexp_count(col("text"), lit(IpRe)).cast("long").as("n_ip")
        )
      },
      Some {
        val email = EmailRe
        val pii =
          "(text" +
            " || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || cast(doc_id as varchar) || '@example.com' ELSE '' END)" +
            " || (CASE WHEN doc_id % 3 = 1 THEN ' call +358-40-' || lpad(cast(doc_id % 1000000 as varchar), 6, '0') ELSE '' END)" +
            " || (CASE WHEN doc_id % 3 = 2 THEN ' from 10.0.' || cast(doc_id % 256 as varchar) || '.' || cast(doc_id % 250 + 1 as varchar) ELSE '' END)" +
            " || (CASE WHEN doc_id % 5 = 0 THEN ' cc admin' || cast(doc_id as varchar) || '@example.org' ELSE '' END))"
        s"""WITH p AS (SELECT doc_id, $pii AS text FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$email', '[EMAIL]', 'g'),
           |    '$IpRe', '[IP]', 'g'),
           |    '$PhoneRe', '[PHONE]', 'g') AS scrubbed,
           |  cast(len(regexp_extract_all(text, '$email')) as bigint) AS n_email,
           |  cast(len(regexp_extract_all(text, '$PhoneRe')) as bigint) AS n_phone,
           |  cast(len(regexp_extract_all(text, '$IpRe')) as bigint) AS n_ip
           |FROM p""".stripMargin
      }
    )
  )
}
