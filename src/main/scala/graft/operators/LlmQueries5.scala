package graft.operators

import graft.{Q, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate detection — the vector-space member of
  * the dedup family (exact hash / MinHash / SimHash / n-gram Jaccard /
  * embedding cosine). Candidates come from a sign-LSH bucket equi-join
  * (hash shuffle on the bucket key), then cosine >= threshold verifies
  * within buckets only. Bucket populations are capped at
  * [[LlmQueries.MaxBucketSize]] via a broadcast anti-join, so the
  * within-bucket self-join fanout is bounded even on a corpus whose
  * duplicates concentrate in one bucket. The corpus injects exact
  * duplicates (cosine 1) and direction-perturbed near duplicates
  * deterministically so the operator has real work.
  */
object LlmQueries5 {

  private val Threshold = 0.99

  /** Core SemDeDup pass over any `(vec_id, vec: array<double>)` corpus:
    * IVF-cell assignment, heavy-cell cap, lowest-id-wins within-cell
    * cosine dedup. Shared by the `embed_semdedup` query and ScaleProbe's
    * `semskew` mode (mega-cell of verbatim copies stays linear under the
    * cap).
    */
  def semdedupOf(corpus0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val corpus = corpus0
      .withColumn("cell", LlmQueries2.ivfCell(col("vec"), 8))
      .persist()
    val capped = Skew.capHeavy(corpus, Seq("cell"), LlmQueries.MaxBucketSize)
    val a = capped.select(col("cell"), col("vec_id").as("id_a"), col("vec").as("vec_a"))
    val b = capped.select(col("cell"), col("vec_id").as("id_b"), col("vec").as("vec_b"))
    val dups = a
      .join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("vec_a"), col("vec_b")) >= Threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
      .withColumn("__dup", lit(1))
    corpus
      .join(dups, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("cell").cast("long").as("cell"),
        col("__dup").isNull.as("kept")
      )
  }

  val all: Seq[Q] = Seq(
    Q(
      "embed_neardup",
      (s, d) => {
        val base = Tables
          .embeddings(s, d)
          .select(
            col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("vec")
          )
        val exact = base
          .filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 200000).as("vec_id"), col("vec"))
        val near = base
          .filter(col("vec_id") % 10 === 5)
          .select(
            (col("vec_id") + 100000).as("vec_id"),
            transform(col("vec"), x => x * lit(1.05) + lit(0.01)).as("vec")
          )
        val corpus = base
          .unionByName(exact)
          .unionByName(near)
          .withColumn("bucket", signLshBucket(col("vec"), 8))
          .persist()
        // Heavy-bucket guard (see LlmQueries.MaxBucketSize): the
        // within-bucket self-join is quadratic in bucket size, and a
        // near-duplicate-heavy corpus concentrates copies in one bucket.
        // Buckets above the cap are excluded via a broadcast anti-join.
        // The ORACLE mirrors the cap (the sf1-equivalent sweep caught
        // embed_semdedup diverging when 10× replicas pushed every IVF
        // cell past the cap — the capped semantics ARE the contract).
        val capped = Skew.capHeavy(corpus, Seq("bucket"), LlmQueries.MaxBucketSize)
        val a = capped.select(
          col("bucket"),
          col("vec_id").as("id_a"),
          col("vec").as("vec_a")
        )
        val b = capped.select(
          col("bucket"),
          col("vec_id").as("id_b"),
          col("vec").as("vec_b")
        )
        a.join(b, Seq("bucket"))
          .filter(col("id_a") < col("id_b"))
          .filter(cosine(col("vec_a"), col("vec_b")) >= Threshold)
          .select(
            col("id_a"),
            col("id_b"),
            round(cosine(col("vec_a"), col("vec_b")), 6).as("score")
          )
      },
      Some {
        val weight =
          "(strpos('0123456789abcdef', substr(md5(cast(p as varchar) || ':' || cast(dd - 1 as varchar)), 1, 1)) - 1 - 7.5)"
        val bucket =
          s"array_to_string(list_transform(range(0, 8), p -> CASE WHEN list_sum(list_transform(range(1, len(vec) + 1), dd -> vec[dd] * $weight)) >= 0 THEN '1' ELSE '0' END), '')"
        s"""WITH corp0 AS (
           |  SELECT vec_id, cast(embedding as double[]) AS vec FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 200000, cast(embedding as double[]) FROM embeddings WHERE vec_id % 10 = 0
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(cast(embedding as double[]), x -> x * 1.05 + 0.01)
           |  FROM embeddings WHERE vec_id % 10 = 5),
           |corp AS (SELECT vec_id, vec, $bucket AS bucket FROM corp0),
           |heavy AS (
           |  SELECT bucket FROM corp GROUP BY bucket HAVING count(*) > ${LlmQueries.MaxBucketSize}),
           |capped AS (SELECT corp.* FROM corp ANTI JOIN heavy USING (bucket))
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_dot_product(a.vec, b.vec) /
           |        (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6) AS score
           |FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE list_dot_product(a.vec, b.vec) /
           |      (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) >= $Threshold""".stripMargin
      }
    ),
    Q(
      // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
      // at web-scale through semantic deduplication"): cluster the
      // embedding space, then drop all but one member of every
      // within-cluster near-duplicate group. Clusters here are the
      // engine's deterministic IVF cells (the trained path swaps in
      // KMeans.centroids); the keeper rule is lowest-id-wins, so a
      // document is dropped iff a lower-id cell-mate sits within the
      // cosine threshold — one cell-keyed self-join (heavy cells capped,
      // same guard as embed_neardup) and no iterative clustering. Output
      // covers the whole corpus with a kept flag.
      "embed_semdedup",
      (s, d) => {
        val base = Tables
          .embeddings(s, d)
          .select(
            col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("vec")
          )
        val exact = base
          .filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 200000).as("vec_id"), col("vec"))
        val near = base
          .filter(col("vec_id") % 10 === 5)
          .select(
            (col("vec_id") + 100000).as("vec_id"),
            transform(col("vec"), x => x * lit(1.05) + lit(0.01)).as("vec")
          )
        semdedupOf(base.unionByName(exact).unionByName(near))
      },
      Some {
        val weight =
          "(strpos('0123456789abcdef', substr(md5('ivf' || cast(c as varchar) || ':' || cast(dd - 1 as varchar)), 1, 1)) - 1 - 7.5)"
        val scores =
          s"list_transform(range(0, 8), c -> list_sum(list_transform(range(1, len(vec) + 1), dd -> vec[dd] * $weight)))"
        s"""WITH corp0 AS (
           |  SELECT vec_id, cast(embedding as double[]) AS vec FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 200000, cast(embedding as double[]) FROM embeddings WHERE vec_id % 10 = 0
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(cast(embedding as double[]), x -> x * 1.05 + 0.01)
           |  FROM embeddings WHERE vec_id % 10 = 5),
           |corp AS (SELECT vec_id, vec, list_position(sc, list_max(sc)) AS cell
           |         FROM (SELECT vec_id, vec, $scores AS sc FROM corp0) _s),
           |heavy AS (
           |  SELECT cell FROM corp GROUP BY cell HAVING count(*) > ${LlmQueries.MaxBucketSize}),
           |capped AS (SELECT corp.* FROM corp ANTI JOIN heavy USING (cell)),
           |dups AS (
           |  SELECT DISTINCT b.vec_id AS dup_id
           |  FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE list_dot_product(a.vec, b.vec) /
           |        (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) >= $Threshold)
           |SELECT c.vec_id, cast(c.cell AS bigint) AS cell,
           |  (d.dup_id IS NULL) AS kept
           |FROM corp c LEFT JOIN dups d ON c.vec_id = d.dup_id""".stripMargin
      }
    )
  )
}
