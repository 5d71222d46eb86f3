package graft.segment

import graft.SparkSpec

/** Property tests for segment-generation invariants (SURVEY §5): the W1
  * count formula, W2 union semantics, and W5 half-open assignment hold for
  * arbitrary bounds/window/stride combinations.
  */
class SegmenterPropSpec extends SparkSpec {
  // seeded random sampling (the scalatest-scalacheck bridge is not in the
  // offline artifact cache; 30 deterministic samples per property)
  private def samples(n: Int): Seq[(Int, Int, Int, Int)] = {
    val rnd = new scala.util.Random(42)
    (1 to n).map(_ => (rnd.nextInt(51), 1 + rnd.nextInt(200),
      1 + rnd.nextInt(60), 1 + rnd.nextInt(30)))
  }

  test("W1: nb = max(floor((end-start-window)/stride)+1, 0); starts arithmetic") {
    samples(30).foreach { case (s0, span, w, st) =>
      val b = Bounds(s0, s0 + span)
      val starts = Segmenter.regular(spark, b, w.toDouble, Seq(st.toDouble), false, "t")
        .segments.collect().map(_.getAs[Double]("__seg_start")).sorted.toSeq
      val nb = math.max(math.floor((span - w).toDouble / st).toLong + 1, 0L)
      assert(starts.length == nb)
      assert(starts == (0L until nb).map(k => s0 + k.toDouble * st))
    }
  }

  test("W2: multi-stride start set is the sorted union of per-stride sets") {
    samples(30).zipWithIndex.foreach { case ((s0, span, w, st1), i) =>
      val st2 = 1 + (i * 7) % 30
      val b = Bounds(s0, s0 + span)
      def starts(sts: Seq[Double]): Seq[Double] =
        Segmenter.regular(spark, b, w.toDouble, sts, false, "t")
          .segments.collect().map(_.getAs[Double]("__seg_start")).sorted.toSeq
      val union = (starts(Seq(st1)) ++ starts(Seq(st2))).distinct.sorted
      assert(starts(Seq(st1.toDouble, st2.toDouble)) == union)
    }
  }

  test("W5: arithmetic assignment equals the half-open interval definition") {
    import spark.implicits._
    samples(20).zipWithIndex.foreach { case ((s0, span, w, st), i) =>
      val n = 5 + (i * 3) % 36
      val b = Bounds(s0, s0 + span)
      val idxs = (0 until n).map(i => s0 + i.toDouble * span / n)
      val rows = idxs.toDF("__idx")
      val plan = Segmenter.regular(spark, b, w.toDouble, Seq(st.toDouble), false, "t")
      val got = Segmenter.assign(rows, plan)
        .select("__idx", "__seg_id").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSet
      val segs = plan.segments.collect()
        .map(r => (r.getAs[Double]("__seg_id"), r.getAs[Double]("__seg_start"),
          r.getAs[Double]("__seg_end")))
      val exp = (for {
        t <- idxs
        (id, ws, we) <- segs if t >= ws && t < we
      } yield (t, id)).toSet
      assert(got == exp)
    }
  }

  test("W5: multi-stride, fractional-stride and final-window assignment equals the definition") {
    // dyadic strides and indexes keep every start, quotient and comparison
    // exact, so the arithmetic and the interval test cannot differ by a
    // rounding at a window edge
    import spark.implicits._
    val fracs = Seq(0.25, 0.5, 0.75, 1.5, 2.5, 3.75)
    val rnd = new scala.util.Random(7)
    def frac(): Double = fracs(rnd.nextInt(fracs.length)) * (1 + rnd.nextInt(4))
    samples(30).zipWithIndex.foreach { case ((s0, span, w, st), i) =>
      val sts = i % 3 match {
        case 0 => Seq(st.toDouble, (1 + (i * 7) % 30).toDouble)
        case 1 => Seq(frac())
        case _ => Seq(frac(), frac(), st.toDouble)
      }
      val n = 5 + (i * 3) % 36
      val idxs = (0 until n).map(j => s0 + math.floor(j * span * 8.0 / n) / 8)
      for (fin <- Seq(false, true)) {
        val plan = Segmenter.regular(spark, Bounds(s0, s0 + span), w.toDouble,
          sts, fin, "t")
        // sorted sequences, not sets: a pair emitted twice is a difference
        val got = Segmenter.assign(idxs.toDF("__idx"), plan)
          .select("__idx", "__seg_id").collect()
          .map(r => (r.getDouble(0), r.getDouble(1))).toSeq.sorted
        val segs = plan.segments.collect()
          .map(r => (r.getAs[Double]("__seg_id"), r.getAs[Double]("__seg_start"),
            r.getAs[Double]("__seg_end")))
        val exp = (for {
          t <- idxs
          (id, ws, we) <- segs if t >= ws && t < we
        } yield (t, id)).sorted
        assert(got == exp, s"s0=$s0 span=$span w=$w strides=$sts final=$fin")
      }
    }
  }
}
