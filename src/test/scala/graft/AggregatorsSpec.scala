package graft

import org.apache.spark.sql.functions._
import graft.functions.Aggregators
import graft.functions.Aggregators.{MG, MGState, MinK, MinKH}

/** Custom typed aggregations (reference custom-reduction surface,
  * core.py:2349-2457) + partitioning ops (§1.4: repartition schemes,
  * partitions[i] selection).
  *
  * The mutable buffers must be EXACTLY their immutable references:
  * MGState (allocation-free Misra–Gries) retains the same (item, count)
  * set as MG after any interleaving of adds and merges — not just the
  * same error bound — and MinKH the same multiset as MinK. The
  * differentials drive both through identical random streams and random
  * partial-aggregation trees. */
class AggregatorsSpec extends SparkSpec {
  import spark.implicits._

  test("WeightedMean merges partials exactly") {
    val ds = Seq((10.0, 1.0), (20.0, 3.0), (30.0, 0.0)).toDS().repartition(3)
    val got = ds.select(Aggregators.WeightedMean.toColumn).head()
    assert(math.abs(got - 70.0 / 4.0) < 1e-12)
  }

  test("MinKAgg keeps the k smallest across partitions (bounded state)") {
    val ds = spark.range(0, 1000).map(i => (i * 2654435761L) % 1000003L)
      .repartition(8)
    val got = ds.select(new Aggregators.MinKAgg(5).toColumn).head()
    val expected = ds.collect().sorted.take(5).toSeq
    assert(got == expected)
  }

  test("repartition schemes: npartitions, coalesce n_to_one, range") {
    val df = spark.range(0, 100).toDF("i").repartition(10)
    assert(df.rdd.getNumPartitions == 10)
    assert(df.coalesce(2).rdd.getNumPartitions == 2)       // n_to_one, no shuffle
    val ranged = df.repartitionByRange(4, col("i"))
    assert(ranged.rdd.getNumPartitions == 4)
    // range partitions hold contiguous key ranges (the reference's
    // divisions semantics)
    val bounds = ranged.withColumn("p", spark_partition_id())
      .groupBy("p").agg(min("i").as("lo"), max("i").as("hi"))
      .orderBy("lo").collect().map(r => (r.getLong(1), r.getLong(2)))
    bounds.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("partitions[i] selection via spark_partition_id") {
    val df = spark.range(0, 100).toDF("i").repartition(5)
    val p2 = df.withColumn("p", spark_partition_id()).filter(col("p") === 2)
    assert(p2.count() > 0 && p2.count() < 100)
  }

  test("ArgMinAgg laws: lexicographic (dist, id) min across partitions; " +
    "ties at equal dist break to the smaller id (row_number ORDER BY " +
    "dist, id semantics); empty partials merge as identity") {
    import graft.functions.Aggregators
    val am = Aggregators.ArgMinAgg
    // reduce/merge algebra directly (partition-order independence)
    val z = am.zero
    val a = am.reduce(am.reduce(z, (2.0, 7L)), (1.0, 9L))
    val b = am.reduce(am.zero, (1.0, 3L)) // tie on dist=1.0, smaller id
    assert(am.finish(am.merge(a, b)) == 3L)
    assert(am.finish(am.merge(b, a)) == 3L) // merge is symmetric here
    assert(am.finish(am.merge(am.zero, a)) == 9L) // empty partial = identity
    assert(am.finish(am.merge(a, am.zero)) == 9L)
    // end-to-end through a many-partition groupBy: every key must pick
    // the min id among rows carrying its minimal dist
    import spark.implicits._
    val rows = for (k <- 0L until 8L; i <- 0L until 100L)
      yield (k, (i % 10).toDouble, i)
    val amAgg = udaf(am,
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long)]())
    val got = rows.toDF("k", "dist", "id").repartition(16)
      .groupBy("k").agg(amAgg(col("dist"), col("id")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dist 0.0 occurs at ids 0,10,...,90 -> min id 0 for every key
    assert(got == (0L until 8L).map(_ -> 0L).toMap, s"$got")
  }

  test("ArgMinAgg contract (r13 verdict item 7): the call-site distance " +
    "shape (vv - 2*dot) + cc never yields NaN/-0.0 for finite inputs, " +
    "and a NaN-carrying caller WOULD be order-dependent — the documented " +
    "precondition is load-bearing, not decorative") {
    val am = Aggregators.ArgMinAgg
    // (a) the call-site shape: vv, cc are sums of squares (>= +0.0 even
    // from -0.0 inputs: (-0.0)*(-0.0) == +0.0), so a-b / a+b cannot
    // produce -0.0 and finite operands cannot produce NaN
    val probes = Seq((0.0, 0.0, 0.0), (-0.0 * -0.0, 0.0, 0.0),
      (2.0, 1.0, 0.0), (1e300, 5e299, 1e300))
    probes.foreach { case (vv, dot, cc) =>
      val d = (vv - 2 * dot) + cc
      assert(!d.isNaN, s"NaN from ($vv,$dot,$cc)")
      assert(java.lang.Double.doubleToRawLongBits(d) !=
        java.lang.Double.doubleToRawLongBits(-0.0),
        s"-0.0 from ($vv,$dot,$cc)")
    }
    // -0.0 == 0.0 under primitive compare = SQL equality: a hypothetical
    // -0.0 tie still breaks purely on id
    val t1 = am.reduce(am.reduce(am.zero, (-0.0, 9L)), (0.0, 3L))
    assert(am.finish(t1) == 3L)
    // (b) negative law: NaN poisons the fold order-dependently — this is
    // WHY the precondition exists. First-NaN wins over later finite rows;
    // finite-first beats later NaN. A subtractive-distance caller that
    // can produce NaN must pre-filter or map NaN -> +Inf.
    val nanFirst = am.reduce(am.reduce(am.zero, (Double.NaN, 1L)), (1.0, 2L))
    val nanLast = am.reduce(am.reduce(am.zero, (1.0, 2L)), (Double.NaN, 1L))
    assert(am.finish(nanFirst) == 1L && am.finish(nanLast) == 2L,
      "NaN order-dependence changed — revisit the documented contract")
  }

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
