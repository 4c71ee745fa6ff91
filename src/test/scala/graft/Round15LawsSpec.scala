package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Aggregators.{MG, MGState, MinK, MinKH}

/** Round-15 law pins.
  *
  * MGState (the r15 mutable, allocation-free Misra–Gries buffer) must be
  * EXACTLY the immutable reference MG: same retained (item, count) set
  * after any interleaving of adds and merges — not just the same error
  * bound. The differential drives both implementations through identical
  * random streams and random partial-aggregation trees.
  */
class Round15LawsSpec extends AnyFunSuite {

  private def fresh(k: Int): MGState =
    MGState(k, new Array[String](k), new Array[Long](k), 0)

  private def stateMap(s: MGState): Map[String, Long] =
    (0 until s.n).map(i => s.keys(i) -> s.vals(i)).toMap

  test("differential: MGState.add ≡ MG.add on random zipf-ish streams") {
    val rng = new scala.util.Random(15151)
    for (trial <- 0 until 20) {
      val k = 1 + rng.nextInt(12)
      var ref = MG(k, Map.empty)
      val got = fresh(k)
      val nItems = 200 + rng.nextInt(400)
      for (_ <- 0 until nItems) {
        // zipf-ish: small ids common, long tail of rare ids
        val item =
          if (rng.nextBoolean()) s"t${rng.nextInt(5)}"
          else s"r${rng.nextInt(200)}"
        ref = ref.add(item, 1L)
        got.add(item, 1L)
      }
      assert(stateMap(got) == ref.counts, s"trial $trial k=$k diverged")
    }
  }

  test("differential: weighted adds (w > 1, spill-over decrement path)") {
    val rng = new scala.util.Random(2626)
    for (trial <- 0 until 20) {
      val k = 1 + rng.nextInt(6)
      var ref = MG(k, Map.empty)
      val got = fresh(k)
      for (_ <- 0 until 150) {
        val item = s"t${rng.nextInt(30)}"
        val w = 1L + rng.nextInt(9)
        ref = ref.add(item, w)
        got.add(item, w)
      }
      assert(stateMap(got) == ref.counts, s"trial $trial k=$k diverged")
    }
    // w = 0 is rejected by both: the reference would insert a zero
    // counter where the buffer would do nothing
    intercept[IllegalArgumentException](MG(2, Map.empty).add("t", 0L))
    intercept[IllegalArgumentException](fresh(2).add("t", 0L))
  }

  test("differential: MGState.mergeIn ≡ MG.++ under random merge trees") {
    val rng = new scala.util.Random(373737)
    for (trial <- 0 until 12) {
      val k = 2 + rng.nextInt(10)
      // build 6 random partials both ways, then fold in a random order
      val parts = (0 until 6).map { _ =>
        var r = MG(k, Map.empty)
        val s = fresh(k)
        for (_ <- 0 until 80 + rng.nextInt(80)) {
          val item =
            if (rng.nextBoolean()) s"t${rng.nextInt(4)}"
            else s"r${rng.nextInt(100)}"
          r = r.add(item, 1L)
          s.add(item, 1L)
        }
        (r, s)
      }
      val order = rng.shuffle(parts.toList)
      val refAll = order.map(_._1).reduce(_ ++ _)
      val gotAll = order.map(_._2).reduce(_ mergeIn _)
      assert(stateMap(gotAll) == refAll.counts, s"trial $trial k=$k diverged")
    }
  }

  test("differential: MinKH (max-heap) ≡ MinK (sorted list) incl. duplicates and merges") {
    val rng = new scala.util.Random(4242)
    for (trial <- 0 until 20) {
      val k = 1 + rng.nextInt(12)
      // random partials with heavy duplicate mass, folded in random order
      val parts = (0 until 5).map { _ =>
        var ref = MinK(k, Nil)
        val got = MinKH(k, new Array[Long](k), 0)
        for (_ <- 0 until 30 + rng.nextInt(60)) {
          val v = rng.nextInt(25).toLong - 5L
          ref = ref.add(v)
          got.add(v)
        }
        (ref, got)
      }
      val order = rng.shuffle(parts.toList)
      val refAll = order.map(_._1).reduce(_ ++ _)
      val gotAll = order.map(_._2).reduce(_ mergeIn _)
      assert(gotAll.sortedVals == refAll.vals,
        s"trial $trial k=$k: ${gotAll.sortedVals} != ${refAll.vals}")
    }
    // fewer inputs than k: everything retained, ascending
    val s = MinKH(8, new Array[Long](8), 0)
    Seq(5L, -1L, 3L).foreach(s.add)
    assert(s.sortedVals == Seq(-1L, 3L, 5L))
  }

  test("buffer round-trips through its product encoder mid-stream") {
    // Spark serializes partial buffers at the shuffle boundary; the
    // @transient slot index must rebuild and accept further adds.
    // Encoder serialization needs no SparkSession.
    val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.Encoders.product[MGState].asInstanceOf[
        org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[MGState]])
    val toRow = ser.createSerializer()
    val fromRow = ser.resolveAndBind().createDeserializer()
    val s = fresh(4)
    Seq("a", "b", "a", "c", "d", "e", "a").foreach(s.add(_, 1L))
    val back = fromRow(toRow(s).copy())
    assert(stateMap(back) == stateMap(s))
    // post-deserialization adds (index rebuilt lazily) stay consistent
    var ref = MG(4, stateMap(s))
    Seq("f", "a", "g", "b").foreach { it =>
      back.add(it, 1L); ref = ref.add(it, 1L)
    }
    assert(stateMap(back) == ref.counts)
  }
}
