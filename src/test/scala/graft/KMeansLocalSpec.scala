package graft

import org.apache.spark.sql.functions._

import graft.functions.KMeansLocal

/** The driver-side k-means kernel behind every ANN model fit:
  * determinism, recovery of planted clusters, the lowest-index
  * tie-break, degenerate and non-finite inputs, and the bounded
  * learning sample. */
class KMeansLocalSpec extends SparkSpecBase {
  import spark.implicits._

  /** 4 well-separated blobs of 50 points each, seeded jitter of ±0.1. */
  private val centers = Array(Array(0.0, 0.0), Array(10.0, 0.0),
    Array(0.0, 10.0), Array(10.0, 10.0))
  private val blobs: Array[(Int, Array[Double])] = {
    val rng = new java.util.Random(7L)
    for (b <- centers.indices.toArray; _ <- 0 until 50)
      yield b -> centers(b).map(_ + (rng.nextDouble() - 0.5) * 0.2)
  }

  test("the same seed gives bit-identical centroids") {
    val pts = blobs.map(_._2)
    val bits = (c: Array[Array[Double]]) =>
      c.map(_.map(java.lang.Double.doubleToLongBits).toSeq).toSeq
    val a = KMeansLocal.fit(pts, 6, seed = 3L)
    val b = KMeansLocal.fit(pts, 6, seed = 3L)
    assert(bits(a) == bits(b))
  }

  test("well-separated planted blobs are recovered exactly") {
    val cents = KMeansLocal.fit(blobs.map(_._2), 4, seed = 11L)
    // each fitted centroid sits on one planted center, one per center
    val owner = cents.map(c => KMeansLocal.nearest(c, centers))
    assert(owner.toSet == centers.indices.toSet, owner.mkString(","))
    // and every point's cluster is exactly its blob
    blobs.foreach { case (b, p) =>
      assert(owner(KMeansLocal.nearest(p, cents)) == b)
    }
    cents.zip(owner).foreach { case (c, b) =>
      assert(math.sqrt(c.zip(centers(b)).map { case (x, y) => (x - y) * (x - y) }.sum) < 0.05)
    }
  }

  test("an equidistant point goes to the lowest index") {
    val cents = Array(Array(5.0), Array(1.0), Array(-1.0))
    assert(KMeansLocal.nearest(Array(0.0), cents) == 1)
    assert(KMeansLocal.nearest(Array(0.0), Array(Array(2.0), Array(2.0))) == 0)
  }

  test("k at or above the number of distinct points: no throw, no NaN") {
    val pts = Array.fill(4)(Array(1.0, 2.0)) ++ Array.fill(3)(Array(-3.0, 0.5))
    Seq(2, 5, 9).foreach { k =>
      val cents = KMeansLocal.fit(pts, k, seed = 1L)
      assert(cents.length == k)
      assert(cents.forall(_.forall(x => !x.isNaN)), s"k=$k")
      assert(cents.forall(c => pts.exists(_.sameElements(c))),
        s"k=$k: every centroid is one of the two distinct points")
    }
  }

  test("empty input and non-positive k are rejected") {
    assertThrows[IllegalArgumentException] {
      KMeansLocal.fit(Array.empty[Array[Double]], 3, seed = 1L)
    }
    Seq(0, -1).foreach { k =>
      assertThrows[IllegalArgumentException] {
        KMeansLocal.fit(blobs.map(_._2), k, seed = 1L)
      }
    }
  }

  test("non-finite points are rejected") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { x =>
      val e = intercept[IllegalArgumentException] {
        KMeansLocal.fit(blobs.map(_._2) :+ Array(1.0, x), 2, seed = 1L)
      }
      assert(e.getMessage.contains("finite"), e.getMessage)
    }
  }

  test("the learning sample is bounded and deterministic, and refuses nulls") {
    val df = spark.range(5000).select(
      array($"id".cast("double"), ($"id" % 7).cast("double")).as("v"))
    val a = KMeansLocal.sample(df, $"v", 1)
    assert(a.length == KMeansLocal.sampleCap(1) && a.length == 4096)
    assert(a.map(_.toSeq).toSeq == KMeansLocal.sample(df, $"v", 1).map(_.toSeq).toSeq)
    // hash order: not the 4,096 smallest first coordinates
    assert(a.exists(_(0) >= 4096.0))
    // a table under the cap comes back whole
    assert(KMeansLocal.sample(df.filter($"v"(0) < 300), $"v", 16).length == 300)
    // a null vector fails the sample; a null element reads as NaN, which
    // the fit then refuses
    val small = df.filter($"v"(0) < 10)
    assertThrows[IllegalArgumentException] {
      KMeansLocal.sample(small.union(Seq(Option.empty[Seq[Double]]).toDF("v")), $"v", 1)
    }
    val holed = KMeansLocal.sample(small.union(Seq(Seq(Some(1.0), None)).toDF("v")), $"v", 1)
    assert(holed.exists(p => p(0) == 1.0 && p(1).isNaN))
    assertThrows[IllegalArgumentException] { KMeansLocal.fit(holed, 2, seed = 1L) }
  }
}
