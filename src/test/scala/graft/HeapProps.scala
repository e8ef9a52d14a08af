package graft

import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.TopKAgg

/** ScalaCheck: the primitive bounded heap every scan kernel and
  * `collect_top_k` share must keep exactly what a sort keeps — the top k
  * by (score desc, id asc) — on ties, duplicate ids, k = 1 and k larger
  * than the input; with `dedupIds`, each id once at its best score. */
object HeapProps extends Properties("TopKAgg.Heap") {

  // few distinct scores and ids, so ties and duplicate ids are common
  private val offersGen: Gen[List[(Double, Long)]] =
    Gen.choose(0, 60).flatMap { n =>
      Gen.listOfN(n, for {
        s <- Gen.choose(-4, 4).map(_ / 2.0)
        id <- Gen.choose(0L, 25L)
      } yield (s, id))
    }

  private val kGen: Gen[Int] = Gen.frequency(1 -> Gen.const(1), 4 -> Gen.choose(1, 70))

  private def rank(xs: Seq[(Double, Long)]): Seq[(Double, Long)] =
    xs.sortBy { case (s, i) => (-s, i) }

  private def fill(k: Int, dedup: Boolean, offers: Seq[(Double, Long)]): TopKAgg.Heap = {
    val h = new TopKAgg.Heap(k, dedup)
    offers.foreach { case (s, i) => h.offer(s, i) }
    h
  }

  private def members(h: TopKAgg.Heap): Seq[(Double, Long)] = {
    val b = Seq.newBuilder[(Double, Long)]
    h.foreach((s, i) => b += ((s, i)))
    b.result()
  }

  property("keeps the sorted top k, duplicate ids as distinct entries") =
    Prop.forAll(offersGen, kGen) { (offers, k) =>
      val h = fill(k, dedup = false, offers)
      val want = rank(offers).take(k)
      h.sortedDesc().toSeq == want && rank(members(h)) == want && h.size == want.size
    }

  property("dedupIds keeps the top k ids, each at its best score") =
    Prop.forAll(offersGen, kGen) { (offers, k) =>
      val h = fill(k, dedup = true, offers)
      val best = offers.groupBy(_._2).toSeq.map { case (i, xs) => (xs.map(_._1).max, i) }
      val want = rank(best).take(k)
      h.sortedDesc().toSeq == want && rank(members(h)) == want && h.size == want.size
    }

  property("offer reports whether the heap kept the entry") =
    Prop.forAll(offersGen, kGen) { (offers, k) =>
      val h = new TopKAgg.Heap(k)
      offers.forall { case (s, i) =>
        val before = h.sortedDesc().toSeq
        val kept = h.offer(s, i)
        kept == (h.sortedDesc().toSeq != before || (before.size < k))
      }
    }
}
