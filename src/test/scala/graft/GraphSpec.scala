package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Graph operator correctness on hand-computed fixtures, plus the
  * determinism contract fixed-point PageRank exists to provide.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side model of the fixed-point recurrence — an independent
    * (single-threaded, Map-based) evaluation of the same integer
    * arithmetic the distributed operator promises to implement. */
  private def modelPageRank(
      edges: Seq[(String, String)], iters: Int,
      scale: Long = 1000000000000L): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n = nodes.size
    val base = (scale * 15 / 100) / n
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (s, d) => d -> rank(s) / outdeg(s) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      rank = nodes.map(v => v -> (base + 85 * contrib.getOrElse(v, 0L) / 100)).toMap
    }
    rank
  }

  test("fixed-point pagerank matches the hand-evaluated recurrence") {
    val edges = Seq(
      "a" -> "b", "b" -> "a",
      "b" -> "c", "c" -> "b",
      "a" -> "c", "c" -> "a",
      "c" -> "d", "d" -> "c")
    val got = Graph.pageRankFixedPoint(edges.toDF("src", "dst"), iterations = 4)
      .as[(String, Long)].collect().toMap
    assert(got === modelPageRank(edges, 4))
    // hub c (degree 3) outranks leaf d
    assert(got("c") > got("d"))
  }

  test("pagerank conserves rank mass (floor dust only ever shrinks it)") {
    val edges = (1 to 40).map(i => (s"n$i", s"n${i % 40 + 1}")) ++
      (1 to 40).map(i => (s"n${i % 40 + 1}", s"n$i"))
    val ranks = Graph.pageRankFixedPoint(edges.toDF("src", "dst"), iterations = 3)
      .as[(String, Long)].collect()
    val total = ranks.map(_._2).sum
    assert(total <= 1000000000000L, s"rank mass created: $total")
    assert(total > 990000000000L, s"too much floor dust lost: $total")
  }

  test("pagerank is partitioning-independent (the determinism contract)") {
    val edges = (for (i <- 1 to 30; j <- 1 to 30 if i != j && (i + j) % 3 == 0)
      yield (s"v$i", s"v$j"))
    val df = edges.toDF("src", "dst")
    val a = Graph.pageRankFixedPoint(df.repartition(1), iterations = 3)
      .as[(String, Long)].collect().toMap
    val b = Graph.pageRankFixedPoint(df.repartition(7, col("dst")), iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(a === b)
  }

  test("triangle enumeration finds each triangle exactly once") {
    // 1-2-3 and 2-3-4 close; 4-5 dangles
    val edges = Seq((1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5))
      .toDF("a", "b")
    val tris = Graph.triangles(edges).as[(Int, Int, Int)].collect().toSet
    assert(tris === Set((1, 2, 3), (2, 3, 4)))
  }

  test("triangle enumeration is empty on a triangle-free (bipartite) graph") {
    val edges = (for (l <- 1 to 3; r <- 4 to 6) yield (l, r)).toDF("a", "b")
    assert(Graph.triangles(edges).count() === 0)
  }

  test("bfs hops: exact minimum distances on a hand-drawn graph") {
    // a→b→c→d chain, shortcut a→c, unreachable island x→y
    val edges = Seq("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d", "x" -> "y")
      .toDF("src", "dst")
    val got = Graph.bfsHops(edges, "a", maxHops = 4)
      .as[(String, Int)].collect().toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
  }

  test("bfs hops: cap truncates, early exit when the frontier drains") {
    val chain = (1 to 6).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val capped = Graph.bfsHops(chain, "n1", maxHops = 2)
      .as[(String, Int)].collect().toMap
    assert(capped === Map("n1" -> 0, "n2" -> 1, "n3" -> 2))
    // maxHops far beyond the graph's diameter: loop exits on the
    // drained frontier, result is the full reachable set
    val full = Graph.bfsHops(chain, "n1", maxHops = 50)
      .as[(String, Int)].collect().toMap
    assert(full === (1 to 7).map(i => s"n$i" -> (i - 1)).toMap)
  }

  test("bfs hops is partitioning-independent") {
    val edges = (for (i <- 1 to 20; j <- 1 to 20 if (i * 7 + j) % 5 == 0)
      yield (s"v$i", s"v$j")).toDF("src", "dst")
    val a = Graph.bfsHops(edges.repartition(1), "v1", maxHops = 3)
      .as[(String, Int)].collect().toMap
    val b = Graph.bfsHops(edges.repartition(7, col("dst")), "v1", maxHops = 3)
      .as[(String, Int)].collect().toMap
    assert(a === b)
  }

  /** Driver-side model of the synchronous LPA recurrence. */
  private def modelLpa(
      edges: Seq[(String, String)], rounds: Int): Map[String, String] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val inNbrs = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = nodes.map { v =>
        inNbrs.get(v) match {
          case None => v -> lab(v)
          case Some(ns) =>
            val counts = ns.map(lab).groupBy(identity)
              .map { case (l, o) => (l, o.size) }
            val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
            v -> best
        }
      }.toMap
    }
    lab
  }

  test("label propagation matches the hand-evaluated recurrence") {
    // two cliques bridged by one edge: labels converge within cliques
    val cliqueA = for (i <- 1 to 4; j <- 1 to 4 if i != j) yield (s"a$i", s"a$j")
    val cliqueB = for (i <- 1 to 4; j <- 1 to 4 if i != j) yield (s"b$i", s"b$j")
    val edges = cliqueA ++ cliqueB ++ Seq("a1" -> "b1", "b1" -> "a1")
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 3)
      .as[(String, String)].collect().toMap
    assert(got === modelLpa(edges, 3))
    // the two cliques land on different representatives
    assert(got("a2") !== got("b2"))
  }

  test("label propagation is partitioning-independent") {
    val edges = (for (i <- 1 to 24; j <- 1 to 24 if i != j && (i + 2 * j) % 4 == 0)
      yield (s"v$i", s"v$j"))
    val df = edges.toDF("src", "dst")
    val a = Graph.labelPropagation(df.repartition(1), rounds = 3)
      .as[(String, String)].collect().toMap
    val b = Graph.labelPropagation(df.repartition(5, col("src")), rounds = 3)
      .as[(String, String)].collect().toMap
    assert(a === modelLpa(edges, 3))
    assert(a === b)
  }

  test("weighted pagerank with uniform weights equals the unweighted form") {
    val edges = Seq(
      "a" -> "b", "b" -> "a",
      "b" -> "c", "c" -> "b",
      "a" -> "c", "c" -> "a",
      "c" -> "d", "d" -> "c")
    val uw = Graph.pageRankFixedPoint(edges.toDF("src", "dst"), iterations = 4)
      .as[(String, Long)].collect().toMap
    val w = Graph.pageRankWeighted(
      edges.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "weight"),
      iterations = 4).as[(String, Long)].collect().toMap
    assert(w === uw, "uniform weights must reduce to the uniform split")
  }

  test("weighted pagerank: heavier edges pull proportionally more rank") {
    // star: hub h links x with weight 9, y with weight 1 (and back-links
    // keep the graph strongly connected)
    val edges = Seq(
      ("h", "x", 9L), ("h", "y", 1L),
      ("x", "h", 1L), ("y", "h", 1L))
    val got = Graph.pageRankWeighted(edges.toDF("src", "dst", "weight"),
      iterations = 6).as[(String, Long)].collect().toMap
    assert(got("x") > got("y") * 4,
      s"a 9:1 weight split must dominate the damping base: $got")
    // mass conserved up to floor dust
    val total = got.values.sum
    assert(total <= 1000000000000L && total > 990000000000L)
  }

  test("weighted pagerank is partitioning-independent") {
    val edges = (1 to 30).flatMap(i => Seq(
      (s"n$i", s"n${i % 30 + 1}", (i % 5 + 1).toLong),
      (s"n${i % 30 + 1}", s"n$i", (i % 3 + 1).toLong)))
    val df = edges.toDF("src", "dst", "weight")
    val a = Graph.pageRankWeighted(df.repartition(1), iterations = 3)
      .as[(String, Long)].collect().toMap
    val b = Graph.pageRankWeighted(df.repartition(13), iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(a === b, "fixed-point ranks must not depend on partitioning")
  }

  test("connected components through the shared operator: chain + singleton") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("nid")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(nodes, "nid", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
    val star = Graph.connectedComponentsLogN(nodes, "nid", pairs)
      .as[(Long, Long)].collect().toMap
    assert(star === got, "both component algorithms must agree")
  }

  test("hub graph: pagerank keeps the skew, bfs and label propagation reach through the hub") {
    // ring i -> i+1, eight stride edges i -> (31i + 7919j) mod n, and a
    // hub v0 <-> every 10th vertex: the degree-skewed shape at 2,000
    // vertices instead of 100,000 (docs/GRAPH_REHEARSAL.md)
    val n = 2000
    val edges = spark.range(0, n, 1, 4).flatMap { i =>
      val ring = Seq(i -> ((i + 1) % n))
      val strides = (1 to 8).map(j => i -> ((i * 31 + j * 7919) % n))
      val hub = if (i % 10 == 0) Seq(i -> 0L, 0L -> i) else Seq.empty
      (ring ++ strides ++ hub).map { case (s, d) => (s"v$s", s"v$d") }
    }.toDF("src", "dst")
    val ranks = Graph.pageRankFixedPoint(edges, iterations = 3)
      .as[(String, Long)].collect().toMap
    // measured here: mass 999,999,975,817, hub 19.4x the median rank
    // (921x at 100,000 vertices), all 2,000 vertices within 3 hops, 1
    // label after 3 rounds; the integer recurrences make these exact
    val total = ranks.values.sum
    assert(total <= 1000000000000L && total > 990000000000L, s"rank mass $total")
    val median = ranks.values.toSeq.sorted.apply(n / 2)
    assert(ranks("v0") > 19 * median,
      s"hub rank ${ranks("v0")} must keep its skew over median $median")
    val reached = Graph.bfsHops(edges, "v0", maxHops = 3).count()
    assert(reached >= n * 99L / 100, s"hub bfs reached $reached of $n in 3 hops")
    val labels = Graph.labelPropagation(edges, rounds = 3)
      .select("label").distinct().count()
    assert(labels < n / 20, s"labels failed to collapse: $labels of $n")
  }

  test("pagerank rejects empty and degenerate configs loudly") {
    intercept[IllegalArgumentException] {
      Graph.pageRankFixedPoint(Seq.empty[(String, String)].toDF("src", "dst"),
        iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankFixedPoint(Seq.empty[(String, String)].toDF("src", "dst"),
        iterations = 2)
    }
  }
}
