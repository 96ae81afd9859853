package graft

import graft.ops.StorageMemos

/** A query's result must not depend on session memo state: for each
  * memoized family, a consumer collects the same rows cold (right after
  * the memos are invalidated) and warm (after a sibling query filled the
  * memo it reads). */
class MemoStateSpec extends SparkSpec {

  private val siblingThenConsumer = Seq(
    "q_graph_hits" -> "q_graph_pagerank",        // customer-supplier pairs
    "q_er_candidates" -> "q_er_matches",         // ER scored candidates
    "q_text_suffix_dedup" -> "q_text_suffix_rm", // suffix-array doubling
    "q_ann_build" -> "q_ann_query")              // deployed main ANN index

  private def run(name: String) = SparkEntry.queries(name)(spark, sf001).collect().toSeq

  for ((sibling, consumer) <- siblingThenConsumer)
    test(s"$consumer collects the same rows cold and after $sibling warmed its memo") {
      StorageMemos.invalidateAll()
      val cold = run(consumer)
      StorageMemos.invalidateAll()
      run(sibling)
      val warm = run(consumer)
      assert(cold.nonEmpty)
      assert(warm == cold)
    }
}
