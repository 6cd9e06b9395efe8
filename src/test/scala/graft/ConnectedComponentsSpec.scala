package graft

import graft.operators.{Dedup, GraphQueries}

class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup
      .assignClusters(pairs.toDF("id_1", "id_2"))
      .as[(Long, Long)]
      .collect()
      .toMap

  test("a long chain contracts to its minimum") {
    // Diameter 63: min-label propagation runs 63 rounds and stops only
    // when a round lowers no label.
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
    val got = Dedup
      .assignClusters(Seq(("b.2", "a.10"), ("a.10", "a.2")).toDF("id_1", "id_2"))
      .as[(String, String)]
      .collect()
      .toMap
    // "a.10" < "a.2" lexicographically.
    assert(got == Map("a.2" -> "a.10", "b.2" -> "a.10", "a.10" -> "a.10"))
  }

  test("agrees with an in-memory union-find on a pseudo-random graph") {
    // 300 nodes, ~300 deterministic edges: mixed small components.
    val edges = (1 to 300).map { i =>
      val a = (i * 7919) % 211
      val b = (i * 104729) % 211
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // Union by min root, so every root is its component's minimum.
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.map(n => n -> find(n)).toMap
    assert(cc(edges) == expected)
  }

  test("a 30-node path gets one label") {
    // Labels move one hop per round, so the far end needs 29 rounds.
    val path = (1L until 30L).map(i => (i, i + 1))
    assert(cc(path) == (1L to 30L).map(_ -> 1L).toMap)
  }

  test("chainEdges components match the analytic chain structure") {
    // 0-based keys, matching the testdata p_partkey domain.
    val parts = (0L until 200L).toDF("p_partkey")
    val labels = Dedup
      .assignClusters(GraphQueries.chainEdges(parts))
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
