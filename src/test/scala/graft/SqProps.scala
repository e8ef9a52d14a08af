package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.Sq

/** ScalaCheck: the SQ8 contracts on arbitrary corpora — trained bounds
  * bracket every component on any partitioning, codes stay one byte, and
  * the asymmetric-distance error respects the analytic half-step bound
  * `|adc − exact| ≤ Σᵢ |qᵢ|·stepᵢ/2` (+ float roundoff) that makes the
  * bounded rescore sound.
  */
object SqProps extends Properties("Sq") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.shared

  private val caseGen: Gen[(Seq[(Long, Array[Float])], Array[Float])] =
    for {
      dim <- Gen.choose(2, 8)
      n <- Gen.choose(1, 30)
      cvs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-16, 16).map(_.toFloat / 4.0f)))
      qv <- Gen.listOfN(dim, Gen.choose(-16, 16).map(_.toFloat / 4.0f))
    } yield (cvs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }, qv.toArray)

  property("bounds bracket, codes are bytes, ADC error within half a step per dim") =
    Prop.forAll(caseGen) { case (docs, qv) =>
      val s = spark
      import s.implicits._
      val corpus = docs.toDS().repartition(3)
      val (lo, hi) = Sq.trainBounds(corpus)
      val st = Sq.steps(lo, hi)
      val enc = Sq.encode(corpus, lo, hi).as[(Long, Array[Byte])].collect().toMap
      val byId = docs.toMap
      docs.forall { case (id, v) =>
        val codes = enc(id)
        v.indices.forall { i =>
          lo(i) <= v(i).toDouble && v(i).toDouble <= hi(i) &&
          (codes(i) & 0xFF) >= 0 && (codes(i) & 0xFF) <= Sq.Levels
        }
      } && {
        // the kernel's SQ8 scorer, one row at a time
        val scorer = Sq.scorer(Array((9999L, qv)), lo, hi)
        val adc = enc.map { case (id, codes) =>
          val out = new Array[Double](1)
          scorer.score(codes, 0L, Array(0), out)
          id -> out(0)
        }
        adc.forall { case (id, approx) =>
          val v = byId(id)
          var exact = 0.0
          var bound = 1e-9
          var i = 0
          while (i < v.length) {
            exact += qv(i).toDouble * v(i).toDouble
            bound += math.abs(qv(i).toDouble) * (st(i) / 2.0 + 1e-12)
            i += 1
          }
          math.abs(approx - exact) <= bound
        }
      }
    }

  property("bounds and codes are partitioning-invariant") =
    Prop.forAll(caseGen) { case (docs, _) =>
      val s = spark
      import s.implicits._
      val a = docs.toDS().repartition(1)
      val b = docs.toDS().repartition(5)
      val (lo1, hi1) = Sq.trainBounds(a)
      val (lo2, hi2) = Sq.trainBounds(b)
      lo1.sameElements(lo2) && hi1.sameElements(hi2) && {
        val e1 = Sq.encode(a, lo1, hi1).as[(Long, Array[Byte])].collect().toMap
        val e2 = Sq.encode(b, lo2, hi2).as[(Long, Array[Byte])].collect().toMap
        e1.keySet == e2.keySet && e1.forall { case (id, c) => c.sameElements(e2(id)) }
      }
    }
}
