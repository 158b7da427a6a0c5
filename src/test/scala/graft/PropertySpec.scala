package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{TextFunctions, VectorFunctions}

/** Algebraic invariants over ScalaCheck-generated data (SURVEY.md §5.3).
  * The scalatest↔scalacheck bridge isn't on the offline classpath, so
  * generators are sampled directly with fixed seeds (deterministic runs). */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 8): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rowsGen: Gen[List[(String, Double)]] =
    Gen.listOfN(40, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(-100.0, 100.0)))

  test("UNION ALL count equals the sum of input counts") {
    for ((xs, ys) <- samples(Gen.zip(rowsGen, rowsGen))) {
      assert(xs.toDF("k", "v").union(ys.toDF("k", "v")).count() == xs.size + ys.size)
    }
  }

  test("rollup grand total equals the ungrouped aggregate") {
    for (xs <- samples(rowsGen)) {
      val df = xs.toDF("k", "v")
      val grand = df.rollup($"k").agg(sum($"v").as("s"))
        .filter($"k".isNull).select($"s").collect().head.getDouble(0)
      val plain = df.agg(sum($"v")).collect().head.getDouble(0)
      assert(math.abs(grand - plain) < 1e-9)
    }
  }

  test("dedup is idempotent") {
    for (xs <- samples(rowsGen)) {
      val d1 = xs.toDF("k", "v").dropDuplicates("k")
      assert(d1.dropDuplicates("k").count() == d1.count())
    }
  }

  test("top-k per group is a subset of the group, at most k rows each") {
    for (xs <- samples(rowsGen, n = 4)) {
      val df = xs.toDF("k", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"k").orderBy($"v".desc)
      val topk = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      assert(topk.groupBy($"k").count().collect().forall(_.getLong(1) <= 3))
      assert(topk.drop("rn").except(df).count() == 0)
    }
  }

  test("cosine similarity is symmetric and bounded by 1") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0)).suchThat(_.exists(_ != 0.0))
    for ((x, y) <- samples(Gen.zip(vecGen, vecGen))) {
      val df = Seq((x, y)).toDF("a", "b")
      val row = df.select(
        VectorFunctions.cosine($"a", $"b"),
        VectorFunctions.cosine($"b", $"a")).collect().head
      val (ab, ba) = (row.getDouble(0), row.getDouble(1))
      assert(math.abs(ab - ba) < 1e-12)
      assert(ab <= 1.0 + 1e-9 && ab >= -1.0 - 1e-9)
    }
  }

  test("session row counts sum to the event count") {
    val secsGen = Gen.listOfN(30, Gen.chooseNum(0L, 86400L))
    for (secs <- samples(secsGen, n = 4)) {
      val df = secs.zipWithIndex.map { case (s, i) => (1L, i.toLong, s) }
        .toDF("user_id", "event_id", "sec")
        .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sess = df
        .withColumn("brk",
          when(lag($"ts", 1).over(w).isNull
            || $"ts".cast("long") - lag($"ts", 1).over(w).cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("sid", sum($"brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"sid").agg(count(lit(1)).as("n"))
      assert(sess.agg(sum($"n")).collect().head.getLong(0) == secs.size)
    }
  }

  test("sessionization conserves rows and session spans respect the gap") {
    val secsGen = Gen.listOfN(25, Gen.chooseNum(0L, 50000L)).map(_.distinct)
    for (secs <- samples(secsGen, n = 4) if secs.nonEmpty) {
      val df = secs.zipWithIndex.map { case (s, i) => (1L, i.toLong, s) }
        .toDF("user_id", "event_id", "sec")
        .withColumn("ts", timestamp_seconds($"sec"))
      val sess = graft.operators.Sessionize.withSessionIds(
        df, $"user_id", $"ts", $"event_id", gapSeconds = 1800)
      assert(sess.count() == secs.size)
      // within one session, consecutive gaps never exceed the threshold
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", $"session_id").orderBy($"ts")
      val maxGap = sess.withColumn("gap",
          $"ts".cast("long") - lag($"ts", 1).over(w).cast("long"))
        .agg(max($"gap")).collect().head
      assert(maxGap.isNullAt(0) || maxGap.getLong(0) <= 1800)
    }
  }

  test("simhash self-distance is zero and hamming is bounded by 64") {
    val txtGen2 = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" "))
    for ((x, y) <- samples(Gen.zip(txtGen2, txtGen2), n = 5)) {
      val df = Seq((x, y)).toDF("x", "y")
        .select(
          graft.operators.ScalableDedup.simhash("split(x, ' ')").as("sx"),
          graft.operators.ScalableDedup.simhash("split(y, ' ')").as("sy"))
      val row = df.select(bit_count($"sx".bitwiseXOR($"sx")),
        bit_count($"sx".bitwiseXOR($"sy"))).collect().head
      assert(row.getInt(0) == 0)
      assert(row.getInt(1) >= 0 && row.getInt(1) <= 64)
    }
  }

  test("md5 simhash32 is order-insensitive; rolling fingerprint is order-sensitive") {
    val toks = Gen.listOfN(8, Gen.oneOf("join", "scan", "agg", "hash", "sort"))
    for ((ws, i) <- samples(toks, n = 5).zipWithIndex) {
      // seeded permutation: a failing case must be reproducible on rerun
      val perm = new scala.util.Random(i.toLong).shuffle(ws)
      val df = Seq((ws.mkString(" "), perm.mkString(" "))).toDF("x", "y")
        .withColumn("cx", graft.functions.TextAnalysis.md5TokenCodes(split($"x", " ")))
        .withColumn("cy", graft.functions.TextAnalysis.md5TokenCodes(split($"y", " ")))
      val row = df.select(
        graft.functions.TextAnalysis.simhash32("cx"),
        graft.functions.TextAnalysis.simhash32("cy"),
        graft.functions.TextAnalysis.rollingFingerprint($"x"),
        graft.functions.TextAnalysis.rollingFingerprint($"y")).collect().head
      // per-bit votes are a sum over the token multiset: permutation-proof
      assert(row.getLong(0) == row.getLong(1))
      // the polynomial fold weights positions: permutation changes it
      // (unless the permutation is the identity)
      if (perm != ws) assert(row.getLong(2) != row.getLong(3))
      assert(row.getLong(2) >= 0 && row.getLong(2) < 1000000007L)
    }
  }

  test("native as-of join agrees with the brute-force max/min on random series") {
    // keys with few distinct values and coarse times force duplicates and
    // ties; compare matched TIMES (unique per left row even under ties)
    val seriesGen = Gen.listOfN(30,
      Gen.zip(Gen.oneOf(1L, 2L, 3L), Gen.chooseNum(0L, 20L)))
    for (((ls, rs), i) <- samples(Gen.zip(seriesGen, seriesGen), n = 5).zipWithIndex) {
      val left = ls.zipWithIndex.map { case ((k, t), j) => (k, t, j) }
        .toDF("k", "t", "lid")
      val right = rs.map { case (k, t) => (k, t, s"v$t") }.toDF("k", "rt", "v")
      for (dir <- Seq("backward", "forward")) {
        val native = graft.plans.AsofJoin(left, right, Seq("k"), "t", "rt", dir)
          .select($"lid", $"rt").orderBy($"lid")
          .collect().map(r => (r.getInt(0), r.get(1)))
        val cmp = if (dir == "backward") $"rt" <= $"t" else $"rt" >= $"t"
        val pick = if (dir == "backward") max($"rt") else min($"rt")
        val brute = left.join(right, left("k") === right("k") && cmp, "left_outer")
          .groupBy($"lid").agg(pick.as("rt")).orderBy($"lid")
          .collect().map(r => (r.getInt(0), r.get(1)))
        assert(native.sameElements(brute), s"sample $i direction $dir")
      }
    }
  }

  test("GlobalRank.withRank equals rank() for random data, buckets, and order") {
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.zip(
      Gen.listOfN(60, Gen.chooseNum(-50.0, 50.0)),
      Gen.chooseNum(1, 9),
      Gen.oneOf(true, false))
    for ((vs, buckets, desc) <- samples(gen, n = 6)) {
      val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      val order = if (desc) Seq($"v".desc, $"id") else Seq($"v", $"id")
      val got = graft.operators.GlobalRank
        .withRank(df, "v", desc, order, "r", buckets)
        .select($"id", $"r").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = df
        .select($"id", rank().over(Window.orderBy(order: _*)).cast("long").as("r"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == want, s"buckets=$buckets desc=$desc")
    }
  }

  test("decontamination: self-containment is 1.0, containment is within [0,1]") {
    import graft.operators.Decontaminate
    val txtGen = Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
      .map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(5, txtGen), n = 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val cont = Decontaminate.maxContainment(df, df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // every doc matches itself in the benchmark set → containment 1.0
      assert(df.count() == cont.size)
      assert(cont.values.forall(_ == 1.0))
    }
  }

  test("PII scrub is idempotent and count matches injections for random text") {
    import graft.functions.Redact
    val wordGen = Gen.listOfN(8, Gen.oneOf("data", "spark", "rows", "keys")).map(_.mkString(" "))
    for ((base, k) <- samples(Gen.zip(wordGen, Gen.chooseNum(0, 4)), n = 6)) {
      val injected = base + (1 to k).map(i => s" u$i@ex$i.org").mkString
      val row = Seq(injected).toDF("t")
        .select(Redact.piiCount($"t").cast("long"),
          Redact.piiCount(Redact.scrub($"t")).cast("long"),
          Redact.scrub(Redact.scrub($"t")) === Redact.scrub($"t"))
        .collect().head
      assert(row.getLong(0) == k.toLong, s"base=$base k=$k")
      assert(row.getLong(1) == 0L)   // nothing left after one pass
      assert(row.getBoolean(2))      // idempotent
    }
  }

  test("WAV round-trips arbitrary PCM exactly") {
    import graft.multimodal.Multimodal
    val gen = for {
      ch <- Gen.oneOf(1, 2, 3)
      n <- Gen.chooseNum(1, 40)
      xs <- Gen.listOfN(n * ch, Gen.chooseNum(Short.MinValue, Short.MaxValue))
      rate <- Gen.chooseNum(1, 192000)
    } yield (xs.map(_.toShort).toArray, rate, ch)
    for ((samples0, rate, ch) <- samples(gen)) {
      val got = Multimodal.wavSamples(Multimodal.encodeWavPcm16(samples0, rate, ch))
      assert(got.toSeq == samples0.toSeq.map(_.toLong))
    }
  }

  test("BMP round-trips arbitrary images: decoded channel means are exact") {
    import graft.multimodal.Multimodal
    val gen = for {
      w <- Gen.chooseNum(1, 23)
      h <- Gen.chooseNum(1, 23)
      px <- Gen.listOfN(w * h,
        Gen.zip(Gen.chooseNum(0, 255), Gen.chooseNum(0, 255), Gen.chooseNum(0, 255)))
    } yield (w, h, px.toArray)
    for ((w, h, px) <- samples(gen)) {
      val info = Multimodal.decodeBmp(
        Multimodal.encodeBmp24(w, h, (x, y) => px(y * w + x)))
      assert(info.width == w && info.height == h)
      val n = (w * h).toDouble
      assert(math.abs(info.meanR - px.map(_._1).sum / n) < 1e-9)
      assert(math.abs(info.meanG - px.map(_._2).sum / n) < 1e-9)
      assert(math.abs(info.meanB - px.map(_._3).sum / n) < 1e-9)
      // the perceptual hash is a pure function of the pixels
      val bytes = Multimodal.encodeBmp24(w, h, (x, y) => px(y * w + x))
      assert(Multimodal.bmpAHash(bytes) == Multimodal.bmpAHash(bytes.clone()))
    }
  }

  test("PNG round-trips arbitrary images EXACTLY; corruption fails contractually") {
    import graft.multimodal.Multimodal
    // heights >= 5 exercise every filter arm (the encoder cycles y % 5)
    val gen = for {
      w <- Gen.chooseNum(1, 23)
      h <- Gen.chooseNum(5, 23)
      alpha <- Gen.oneOf(true, false)
      px <- Gen.listOfN(w * h, Gen.zip(Gen.chooseNum(0, 255),
        Gen.chooseNum(0, 255), Gen.chooseNum(0, 255), Gen.chooseNum(0, 255)))
    } yield (w, h, alpha, px.toArray)
    for ((w, h, alpha, px) <- samples(gen)) {
      val bytes =
        if (alpha) Multimodal.encodePngRgba(w, h, (x, y) => px(y * w + x))
        else Multimodal.encodePng(w, h,
          (x, y) => { val (r, g, b, _) = px(y * w + x); (r, g, b) })
      // PNG is lossless: the decoded plane equals the input byte-for-byte
      val (dw, dh, ch, plane) = Multimodal.decodePngPixels(bytes)
      assert(dw == w && dh == h && ch == (if (alpha) 4 else 3))
      var i = 0
      while (i < w * h) {
        val (r, g, b, a) = px(i)
        assert((plane(i * ch) & 0xff) == r && (plane(i * ch + 1) & 0xff) == g
          && (plane(i * ch + 2) & 0xff) == b)
        if (alpha) assert((plane(i * ch + 3) & 0xff) == a)
        i += 1
      }
      // the perceptual hash is a pure function of the pixels
      assert(Multimodal.pngAHash(bytes) == Multimodal.pngAHash(bytes.clone()))
      // single-byte corruption anywhere either still decodes or fails
      // with the contractual IllegalArgumentException — never an
      // uncontrolled index/negative-size/inflater crash
      val rnd = new scala.util.Random(w * 31 + h)
      (0 until 8).foreach { _ =>
        val m = bytes.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        try { Multimodal.decodePng(m); () }
        catch { case _: IllegalArgumentException => () }
      }
    }
  }

  test("AVI round-trips arbitrary frame stacks; corruption fails contractually") {
    import graft.multimodal.Multimodal
    val gen = for {
      w <- Gen.chooseNum(1, 12)
      h <- Gen.chooseNum(1, 12)
      nf <- Gen.chooseNum(1, 5)
      frames <- Gen.listOfN(nf, Gen.listOfN(w * h,
        Gen.zip(Gen.chooseNum(0, 255), Gen.chooseNum(0, 255), Gen.chooseNum(0, 255))))
      fps <- Gen.chooseNum(1, 60)
    } yield (w, h, frames.map(_.toArray), fps)
    for ((w, h, frames, fps) <- samples(gen)) {
      val bytes = Multimodal.encodeAviDib(w, h,
        frames.map(px => (x: Int, y: Int) => px(y * w + x)), fps)
      // the gray channel of every frame reads back exactly, in frame order
      val gray = frames.map(_.map { case (r, _, _) => (r, r, r) })
      assert(Multimodal.aviGrayPixels(Multimodal.encodeAviDib(w, h,
        gray.map(px => (x: Int, y: Int) => px(y * w + x)), fps)).toSeq ==
        frames.flatMap(_.map(_._1.toLong)))
      // the fingerprint is a pure function of the payload
      assert(Multimodal.aviFingerprint(bytes) ==
        Multimodal.aviFingerprint(bytes.clone()))
      // single-byte corruption anywhere either still decodes or fails
      // with the contractual IllegalArgumentException — never an
      // uncontrolled index/negative-size crash
      val rnd = new scala.util.Random(w * 31 + h)
      (0 until 8).foreach { _ =>
        val m = bytes.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        try { Multimodal.aviFingerprint(m); () }
        catch { case _: IllegalArgumentException => () }
      }
    }
  }

  test("bmpResize never upscales and preserves the global mean approximately") {
    import graft.multimodal.Multimodal
    val gen = for {
      w <- Gen.chooseNum(9, 31)
      h <- Gen.chooseNum(9, 31)
      px <- Gen.listOfN(w * h,
        Gen.zip(Gen.chooseNum(0, 255), Gen.chooseNum(0, 255), Gen.chooseNum(0, 255)))
    } yield (w, h, px.toArray)
    for ((w, h, px) <- samples(gen)) {
      val orig = Multimodal.encodeBmp24(w, h, (x, y) => px(y * w + x))
      val out = Multimodal.decodeBmp(Multimodal.bmpResize(orig, 8))
      assert(math.max(out.width, out.height) <= 8)
      assert(out.width == math.ceil(w * 8.0 / math.max(w, h)).toInt)
      assert(out.height == math.ceil(h * 8.0 / math.max(w, h)).toInt)
      // box means resample the image, so the global mean moves only by
      // rounding and uneven box sizes — bound it loosely
      val in = Multimodal.decodeBmp(orig)
      assert(math.abs(in.meanLuma - out.meanLuma) < 32.0,
        s"${in.meanLuma} vs ${out.meanLuma} at ${w}x$h")
    }
  }

  test("HLL union is commutative, associative, idempotent; estimate is monotone") {
    import graft.functions.Hll
    val batchGen = Gen.listOfN(300, Gen.chooseNum(0L, 2000L))
    for ((xs, ys, zs) <- samples(Gen.zip(batchGen, batchGen, batchGen), n = 4)) {
      def sketch(vs: Seq[Long]): Array[Byte] = {
        val r = new Array[Byte](Hll.M)
        // same style of mixing as the production path (any uniform 64-bit
        // hash is admissible per the scaladoc contract)
        vs.foreach(v => Hll.addHash(r, scala.util.hashing.byteswap64(v)))
        r
      }
      def u(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        Hll.unionInPlace(a.clone(), b)
      val (a, b, c) = (sketch(xs), sketch(ys), sketch(zs))
      assert(java.util.Arrays.equals(u(a, b), u(b, a)), "commutative")
      assert(java.util.Arrays.equals(u(u(a, b), c), u(a, u(b, c))), "associative")
      assert(java.util.Arrays.equals(u(a, a), a.clone()), "idempotent")
      // merging can only grow the estimate (registers are maxed)
      assert(Hll.estimate(u(a, b)) >= Hll.estimate(a))
      // union of sketches == sketch of union (lossless merge)
      assert(java.util.Arrays.equals(u(a, b), sketch(xs ++ ys)))
    }
  }

  test("JPEG round-trip error is bounded for random piecewise-flat images") {
    import graft.multimodal.Jpeg
    val gen = for {
      w <- Gen.chooseNum(8, 40)
      h <- Gen.chooseNum(8, 40)
      base <- Gen.chooseNum(16, 239)
    } yield (w, h, base)
    for ((w, h, base) <- samples(gen, n = 6)) {
      // flat blocks with a mild gradient: JPEG's best case, so the bound
      // is tight and a broken coefficient path cannot hide
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; ch <- 0 until 3)
        px((y * w + x) * 3 + ch) = (base + (x / 8) * 2 + (y / 8) * 2 + ch).toByte
      val (dw, dh, _, rgb) = Jpeg.decodePixels(Jpeg.encodeJpeg(px, w, h, quality = 95))
      assert(dw == w && dh == h)
      var m = 0
      for (i <- px.indices)
        m = math.max(m, math.abs((px(i) & 0xff) - (rgb(i) & 0xff)))
      assert(m <= 16, s"max error $m at ${w}x$h base=$base")
    }
  }

  test("MP4 writer/parser round-trips random geometry and sample counts") {
    import graft.multimodal.Mp4
    val gen = for {
      w <- Gen.chooseNum(16, 4096)
      h <- Gen.chooseNum(16, 2160)
      dur <- Gen.chooseNum(100L, 3600000L)
      n <- Gen.chooseNum(1, 5000)
    } yield (w, h, dur, n)
    for ((w, h, dur, n) <- samples(gen, n = 8)) {
      val info = Mp4.parseMp4(Mp4.encodeMp4Minimal(w, h, dur, n))
      val t = info.tracks.head
      assert(t.width == w && t.height == h && t.nSamples == n)
      assert(math.abs(info.durationSeconds - dur / 1000.0) < 1e-9)
    }
  }

  test("quantile sketch: merge order never changes bytes; rank walk is monotone") {
    import graft.functions.QuantileSketch
    val valsGen = Gen.listOfN(60, Gen.chooseNum(-1e6, 1e6))
    for ((xs, ys) <- samples(Gen.zip(valsGen, valsGen), n = 6)) {
      def sketch(vs: Seq[Double]): Array[Long] = {
        val c = new Array[Long](QuantileSketch.Cells)
        vs.foreach(v => QuantileSketch.add(c, v))
        c
      }
      val (a, b) = (sketch(xs), sketch(ys))
      val ab = QuantileSketch.mergeInPlace(a.clone(), b)
      val ba = QuantileSketch.mergeInPlace(b.clone(), a)
      assert(java.util.Arrays.equals(QuantileSketch.toBytes(ab),
        QuantileSketch.toBytes(ba)), "counter-add merge must commute exactly")
      assert(java.util.Arrays.equals(QuantileSketch.toBytes(ab),
        QuantileSketch.toBytes(sketch(xs ++ ys))),
        "merging per-part sketches must equal sketching the union")
      // quantile is monotone in q — the walk can never go backwards
      val qs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
        .map(q => QuantileSketch.quantile(ab, q).asInstanceOf[Double])
      assert(qs == qs.sorted, s"quantiles must be monotone in q: $qs")
      // and each estimate is within alpha of SOME input value's bucket
      val all = xs ++ ys
      qs.foreach { est =>
        assert(all.exists(v =>
          math.abs(est - v) <= QuantileSketch.Alpha * math.abs(v) + 1e-9),
          s"estimate $est matches no input within alpha")
      }
    }
  }

  test("bloom: no false negatives under random keys and random splits") {
    import graft.functions.Bloom
    val keysGen = Gen.listOfN(200, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    for ((xs, ys) <- samples(Gen.zip(keysGen, keysGen), n = 6)) {
      def filt(ks: Seq[Long]): Array[Long] = {
        val w = new Array[Long](Bloom.Words)
        ks.foreach(k => Bloom.setBits(w, k))
        w
      }
      val merged = Bloom.mergeInPlace(filt(xs), filt(ys))
      (xs ++ ys).foreach(k => assert(Bloom.containsBytes(Bloom.toBytes(merged), k),
        s"inserted key $k rejected after merge"))
      assert(java.util.Arrays.equals(Bloom.toBytes(merged),
        Bloom.toBytes(filt(xs ++ ys))),
        "OR-merge must equal filtering the union")
    }
  }

  test("jaccard is symmetric and 1 on identical token sets") {
    val txtGen = Gen.listOfN(6, Gen.oneOf("w1", "w2", "w3", "w4")).map(_.mkString(" "))
    for ((x, y) <- samples(Gen.zip(txtGen, txtGen))) {
      val df = Seq((x, y)).toDF("x", "y")
      val row = df.select(
        TextFunctions.jaccard(TextFunctions.tokenSet($"x"), TextFunctions.tokenSet($"y")),
        TextFunctions.jaccard(TextFunctions.tokenSet($"y"), TextFunctions.tokenSet($"x")),
        TextFunctions.jaccard(TextFunctions.tokenSet($"x"), TextFunctions.tokenSet($"x")))
        .collect().head
      assert(row.getDouble(0) == row.getDouble(1))
      assert(row.getDouble(2) == 1.0)
    }
  }
}
