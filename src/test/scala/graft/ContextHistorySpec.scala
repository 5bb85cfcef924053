package graft

import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

/** No answer may depend on what ran before it in the JVM. Every suite in
  * the forked test JVM stops its SparkSession when it ends, and broadcast
  * ids restart at 0 in the next SparkContext — so anything cached by
  * broadcast id alone (the [[graft.functions.LongArrayMap]] value cache)
  * would hand a later context a signature or gram map from an earlier
  * one. Two contexts, one after another, run the two LSH queries whose
  * broadcast maps collide in opposite orders; each result must equal the
  * same query's result from the first context. */
class ContextHistorySpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val rich = "q_minhash_pairs_rich"
  private val em = "q_linkage_em_10k"

  /** Run `names` in order in a fresh SparkContext, stopped afterwards;
    * each result as its sorted row strings. */
  private def inFreshContext(names: Seq[String]): Map[String, Seq[String]] = {
    val spark = GraftSession.build("local[4]", "4")
    try names.map { n =>
      val q = Registry.all.find(_.name == n).get
      n -> q.run(spark, sfDir).collect().map(_.toString).toSeq.sorted
    }.toMap
    finally spark.stop()
  }

  test("LSH results do not depend on an earlier SparkContext's broadcasts") {
    val first = inFreshContext(Seq(rich, em))
    val second = inFreshContext(Seq(em, rich))
    assert(first(rich).nonEmpty && first(em).nonEmpty)
    assert(second(em) === first(em), s"$em after $rich's context")
    assert(second(rich) === first(rich), s"$rich after $em's context")
  }
}
