package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.engine.QueryBuilder
import graft.ops.{Dedup, Graph}

/** Connected components keeps one engine per side of the edge
  * threshold: driver union-find at or below it, distributed
  * large-star/small-star contraction above it. Union-find is the
  * reference: the star engine must return exactly its rows — the same
  * clusters in the same id type — on every graph shape.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  // chain 1-2-3, pair (10,11), triangle 20-21-22 + bridge 22-23, singleton pair (30,31)
  private lazy val pairs = Seq(
    (1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L), (30L, 31L)
  ).toDF("doc_a", "doc_b")

  private val expected = Map(
    1L -> 1L, 2L -> 1L, 3L -> 1L,
    10L -> 10L, 11L -> 10L,
    20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
    30L -> 30L, 31L -> 30L)

  test("driver union-find path resolves min-label clusters") {
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  // ---- large-star/small-star alternation (Kiveris 2014) --------------

  test("star-contraction CC matches union-find on the mixed fixture") {
    val got = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("star-contraction resolves a 64-node chain in O(log n) rounds, not diameter") {
    val chain = (1L to 64L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
    // diameter 63 would blow the 30-round cap if this were propagation;
    // alternation must land well inside it
    val got = Dedup.connectedComponentsStar(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("star CC frees its per-round checkpoint blocks (reachability filter still attributes)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (1L to 64L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
    Dedup.connectedComponentsStar(chain).count()
    // only the FINAL round's checkpoint may survive (cur backs the
    // returned frame); if the per-round releases missed their blocks,
    // ~2 RDDs per round (~12+) would leak here
    val leaked = (sc.getPersistentRDDs.keySet -- before).size
    assert(leaked <= 3, s"leaked $leaked persisted RDDs — per-round frees broken")
  }

  test("star CC never unpersists RDDs another thread persisted concurrently") {
    val sc = spark.sparkContext
    @volatile var stop = false
    val foreign = new scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[Int]]()
    val t = new Thread(() => {
      while (!stop) {
        val r = sc.parallelize(1 to 4, 1).map(_ + 1)
        r.persist(); r.count()
        foreign.synchronized { foreign += r }
        Thread.sleep(3)
      }
    })
    t.start()
    try {
      val chain = (1L to 96L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponentsStar(chain).as[(Long, Long)].collect().toMap
      assert(got == (1L to 96L).map(_ -> 1L).toMap)
    } finally { stop = true; t.join() }
    val live = sc.getPersistentRDDs.keySet
    foreign.synchronized {
      foreign.foreach(r => assert(live(r.id), s"foreign persisted RDD ${r.id} was claimed and unpersisted"))
      foreign.foreach(_.unpersist(blocking = false))
    }
  }

  test("star-contraction equals union-find across shapes and id types") {
    def edges(ps: Seq[(Long, Long)]): DataFrame = ps.toDF("doc_a", "doc_b")
    // q_graph_cc's input: the co-supply graph at sf0.001
    val coSupply = Graph.topSharedPairs(QueryBuilder.scan(spark, sf001, "lineitem"),
        "l_partkey", "l_suppkey", keepPermille = 100, maxGroupSize = 100000)
      .select(col("s1").as("doc_a"), col("s2").as("doc_b"))
    val shapes = Seq(
      "chain" -> edges((1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq),
      // descending-id chain: minima sit at the FAR end of every path
      "reversed ids" -> edges((100L to 110L).sliding(2).map(s => (s.last, s.head)).toSeq),
      "cliques with a bridge" -> edges(
        (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
          (for { a <- 7L to 9L; b <- 7L to 9L if a < b } yield (a, b)) ++ Seq((4L, 7L))),
      "duplicate and reversed edges" -> edges(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L))),
      // 7's only pair is a self-loop: it is still a (singleton) node
      "self-loop-only pair" -> edges(Seq((7L, 7L), (1L, 2L))),
      "string ids" -> Seq(("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")).toDF("doc_a", "doc_b"),
      "co-supply sf0.001" -> coSupply)
    shapes.foreach { case (shape, df) =>
      def labels(cc: DataFrame): Map[Any, Any] = cc.collect().map(r => r.get(0) -> r.get(1)).toMap
      val uf = Dedup.unionFindLocal(df)
      val star = Dedup.connectedComponentsStar(df)
      assert(labels(uf).nonEmpty, shape)
      assert(star.schema.map(_.dataType) == uf.schema.map(_.dataType), shape)
      assert(labels(star) == labels(uf), shape)
    }
  }
}
