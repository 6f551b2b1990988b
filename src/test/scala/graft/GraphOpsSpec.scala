package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def docs(n: Int) =
    (0 until n).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")

  test("synthetic edges: affine links mod N, no self-loops, deduped") {
    // N=3: 0→{1,2}, 1→{2,0}, 2→{0,1} (each node's three affine dsts
    // collapse to the two other nodes)
    val nodes = docs(3).select(col("doc_id").as("node"))
    val nDf = docs(3).agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n_docs"))
    val e = GraphOps.syntheticEdges(nodes, nDf).orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.toSeq === Seq(0L -> 1L, 0L -> 2L, 1L -> 0L, 1L -> 2L,
      2L -> 0L, 2L -> 1L))
  }

  test("pagerank: symmetric graph stays uniform, mass conserved") {
    // the N=3 graph above is vertex-transitive → every iteration keeps
    // rank exactly uniform (up to the documented 1e-12 quantization)
    val got = GraphOps.pagerank(docs(3), 3).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L))
    val ranks = got.map(_._2)
    assert(ranks.distinct.length === 1, "vertex-transitive ⇒ equal ranks")
    assert(math.abs(ranks.sum - 1.0) < 1e-9, "mass conserved")
    assert(math.abs(ranks.head - 1.0 / 3) < 1e-9)
  }

  test("pagerank: deterministic under repartitioning") {
    val base = GraphOps.pagerank(docs(50), 3).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val shuffled = GraphOps.pagerank(docs(50).repartition(7), 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(shuffled.toSeq === base.toSeq, "bit-identical across partitionings")
    // in-degree asymmetry must actually move mass (non-trivial fixture)
    assert(base.map(_._2).distinct.length > 1)
    assert(math.abs(base.map(_._2).sum - 1.0) < 1e-6)
  }

  test("hits: uniform on symmetric graph, L1-normalized, repartition-stable") {
    val got = GraphOps.hits(docs(3), 2).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L))
    // vertex-transitive → uniform hubs AND authorities, each L1-normalized
    assert(got.map(_._2).distinct.length === 1)
    assert(got.map(_._3).distinct.length === 1)
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-9)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9)
    val base = GraphOps.hits(docs(50), 2).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rep = GraphOps.hits(docs(50).repartition(7), 2).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rep.toSeq === base.toSeq, "bit-identical across partitionings")
    assert(base.map(_._3).distinct.length > 1, "asymmetry moves auth mass")
    assert(math.abs(base.map(_._3).sum - 1.0) < 1e-6)
  }

  test("triangle count: K3 has one, the N=4 affine 4-cycle has none") {
    // N=3: the affine links form the complete graph K3 → exactly 1 triangle
    val k3 = GraphOps.triangleCount(docs(3)).collect()(0).getLong(0)
    assert(k3 === 1L)
    // N=4: links reduce to the 4-cycle {01,12,23,03} → 0 triangles
    val c4 = GraphOps.triangleCount(docs(4)).collect()(0).getLong(0)
    assert(c4 === 0L)
    // determinism under repartition (count is exact, not sampled)
    val n50 = GraphOps.triangleCount(docs(50)).collect()(0).getLong(0)
    val n50r = GraphOps.triangleCount(docs(50).repartition(7))
      .collect()(0).getLong(0)
    assert(n50 === n50r)
  }

  test("inverted index: df counts presence, postings capped and sorted") {
    val corpus = Seq(
      (3L, "b a"),
      (1L, "a a c"),
      (2L, "a b"),
      (4L, "a"), (5L, "a"), (6L, "a"), (7L, "a"),
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.invertedIndex(corpus, 5)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
    // "a": present in all 7 docs (df counts DISTINCT docs — doc 1 has it
    // twice), postings capped at the 5 SMALLEST doc_ids
    assert(got.map(t => (t._1, t._2)).toSeq ===
      Seq(("a", 7L), ("b", 2L), ("c", 1L)))
    assert(got(0)._3 === Seq(1L, 2L, 3L, 4L, 5L))
    assert(got(1)._3 === Seq(2L, 3L))
  }

  test("bfs local finish == distributed level loop, including alien dsts") {
    import spark.implicits._
    // sparse, NON-contiguous ids: many synthetic dsts (v*a+b mod N) are
    // not real node ids, exercising the "alien dst has no out-edges" rule
    val ids = (0L until 400L).filter(v => v % 3 != 1)
    val docs = ids.toDF("doc_id")
    val local = GraphOps.bfsLayers(docs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dist = GraphOps.bfsLayersDistributed(docs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(local.toSeq === dist.toSeq)
    assert(local.head._1 === 0L) // seeds present
  }

  test("local node-id gate: None above the bound, every id below it") {
    val bound = operators.LocalGraph.LocalFinishEdges / 3
    assert(operators.LocalGraph.localNodeIds(spark.range(bound + 10).toDF()).isEmpty)
    assert(operators.LocalGraph.localNodeIds(spark.range(50).toDF())
      .map(_.sorted.toSeq) === Some(0L until 50L))
  }

  test("hits local finish == distributed loop, bit-exact doubles") {
    import spark.implicits._
    val ids = (0L until 300L).filter(v => v % 5 != 2)
    val docs = ids.toDF("doc_id")
    val local = GraphOps.hits(docs, 2).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val dist = GraphOps.hitsDistributed(docs, 2).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(local.length === dist.length)
    local.zip(dist).foreach { case ((n1, h1, a1), (n2, h2, a2)) =>
      assert(n1 === n2)
      assert(java.lang.Double.doubleToRawLongBits(h1) ===
        java.lang.Double.doubleToRawLongBits(h2), s"hub node $n1")
      assert(java.lang.Double.doubleToRawLongBits(a1) ===
        java.lang.Double.doubleToRawLongBits(a2), s"auth node $n1")
    }
  }
}
