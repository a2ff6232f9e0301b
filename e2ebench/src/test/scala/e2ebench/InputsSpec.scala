package e2ebench

import graft.functions.expressions.RatcliffObershelp
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {
  private def render(seed: Long): String =
    (Inputs.searchRequests(seed, 1, 40, 2000) ++ Inputs.searchRequests(seed, 2, 40, 2000))
      .map(_.render).mkString("\n") + "\n" +
      Inputs.analyzeCycle(seed, 1, 1).mkString(",") + "\n" +
      Inputs.analyzeCycle(seed, 2, 3).mkString(",") + "\n" +
      Inputs.ingestBatches(seed, 3, 6).map(_.render).mkString("\n") + "\n" +
      Inputs.mixedOrder(seed, 15, 5).mkString(",")

  test("the same seed gives byte-identical item lists") {
    assert(render(7).getBytes("UTF-8").sameElements(render(7).getBytes("UTF-8")))
    assert(render(7) != render(8))
  }

  test("search requests draw from the stated vectors, limits and languages") {
    val reqs = Inputs.searchRequests(3, 2, 500, 2000)
    assert(reqs.map(_.id) == (0 until 500))
    assert(reqs.forall(r => r.vecId >= 0 && r.vecId < 2000))
    assert(reqs.map(_.k).toSet == Inputs.Limits.toSet)
    assert(reqs.forall(r => r.langs.nonEmpty && r.langs.forall(Inputs.Langs.contains)))
    assert(reqs.filter(_.k == 500).forall(_.clampedK == 100))
  }

  test("every analyze cycle runs each query once") {
    val order = Inputs.analyzeCycle(5, 2, 3)
    assert(order.grouped(Inputs.AnalyzeQueries.size).forall(_.sorted == Inputs.AnalyzeQueries.map(_._1).sorted))
  }

  test("every ingest batch holds the stated mix, and the mixed order interleaves both lists") {
    val batches = Inputs.ingestBatches(9, 3, 8)
    val mix = Inputs.IngestMix.toMap
    assert(batches.map(_.id) == (0 until 8))
    assert(batches.head.records.count(_.kind == "new") == mix("new") + mix("exact") + mix("fuzzy"))
    batches.tail.foreach { b =>
      assert(b.records.groupBy(_.kind).map { case (k, rs) => k -> rs.size } == mix)
    }
    val order = Inputs.mixedOrder(9, 15, 5)
    assert(order.filter(_._1).map(_._2) == (0 until 5) && order.filterNot(_._1).map(_._2) == (0 until 15))
  }

  test("no two planted new titles a year or less apart reach a StringRatio of 0.85") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val keys = Inputs.ingestBatches(seed, 3, 25).flatMap(_.newKeys)
      assert(keys.distinct.size == keys.size)
      for {
        (a, i) <- keys.zipWithIndex; (b, j) <- keys.zipWithIndex
        if i < j && math.abs(a._2 - b._2) <= 1
      } assert(RatcliffObershelp.ratio(a._1, b._1) < 0.85, s"seed $seed: $a ~ $b")
    }
  }

  test("planted duplicates point at titles of earlier batches") {
    val batches = Inputs.ingestBatches(4, 3, 12)
    batches.zipWithIndex.drop(1).foreach { case (b, n) =>
      val earlier = batches.take(n).flatMap(_.newKeys)
      b.records.filter(_.kind == "exact").foreach(r => assert(earlier.contains(r.key.get)))
      b.records.filter(_.kind == "fuzzy").map(_.key.get).foreach { case (t, y) =>
        assert(!earlier.contains(t -> y))
        assert(earlier.exists { case (e, ey) =>
          math.abs(ey - y) <= 1 && RatcliffObershelp.ratio(t, e) >= Inputs.FuzzyMinRatio }, t)
      }
      b.records.filter(_.kind == "repeat").foreach(r => assert(b.newKeys.contains(r.key.get)))
      b.records.filter(_.kind == "invalid").foreach(r => assert(r.key.isEmpty))
    }
  }
}
