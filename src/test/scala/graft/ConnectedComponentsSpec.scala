package graft

import graft.operators.{ConnectedComponents, Dedup}
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .connectedComponents(pairs.toDF("a", "b"))
      .as[(Long, Long)]
      .collect()
      .toMap

  test("a long chain contracts to its minimum") {
    // Diameter 63 — min-label propagation would need 63 rounds; star
    // contraction stays inside the 20-round cap.
    val chain = (1L until 64L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("a star centered on its max still labels by the min") {
    val star = (1L to 9L).map(i => (10L, i))
    val got = cc(star)
    assert(got == (1L to 10L).map(_ -> 1L).toMap)
  }

  test("a cycle terminates and labels by the min") {
    val cycle = (1L until 8L).map(i => (i, i + 1)) :+ (8L, 1L)
    val got = cc(cycle)
    assert(got == (1L to 8L).map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct labels; self-loops and dup edges ignored") {
    val edges = Seq((5L, 6L), (6L, 7L), (6L, 7L), (7L, 7L), (20L, 30L))
    val got = cc(edges)
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 20L -> 20L, 30L -> 20L))
  }

  test("string node ids order lexicographically") {
    val got = ConnectedComponents
      .connectedComponents(Seq(("b.2", "a.10"), ("a.10", "a.2")).toDF("a", "b"))
      .as[(String, String)]
      .collect()
      .toMap
    // "a.10" < "a.2" lexicographically.
    assert(got == Map("a.2" -> "a.10", "b.2" -> "a.10", "a.10" -> "a.10"))
  }

  test("agrees with min-label propagation on a pseudo-random graph") {
    // 300 nodes, ~300 deterministic edges: mixed small components.
    val edges = (1 to 300).map { i =>
      val a = (i * 7919) % 211
      val b = (i * 104729) % 211
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val star = cc(edges)
    val prop = Dedup
      .assignClusters(
        edges.toDF("id_1", "id_2").select(col("id_1"), col("id_2")),
        iters = 50
      )
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(star == prop)
  }

  test("assignClusters fails loudly at its round cap on a 30-node path") {
    // Labels move one hop per round, so the path's far end needs 29
    // rounds; returning after the default 10 would mislabel it.
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("id_1", "id_2")
    val e = intercept[IllegalStateException](Dedup.assignClusters(path))
    assert(e.getMessage.contains("did not converge in 10 rounds"), e.getMessage)
  }

  test("chainEdges components match the analytic chain structure") {
    // 0-based keys, matching the testdata p_partkey domain.
    val parts = (0L until 200L).toDF("p_partkey")
    val labels = ConnectedComponents
      .connectedComponents(ConnectedComponents.chainEdges(parts))
      .as[(Long, Long)]
      .collect()
      .toMap
    def perm(k: Long) = (k * 48271L) % 2147483647L
    val expected = (0L until 200L).map { k =>
      val chain = k / 16
      val members = (chain * 16) until math.min(chain * 16 + 16, 200L)
      perm(k) -> members.map(perm).min
    }.toMap
    assert(labels == expected)
  }
}
