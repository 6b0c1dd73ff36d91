package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-style checks for the custom aggregation/expression logic —
  * pure-JVM (no Spark session), sampling each generator 200 times with
  * a fixed seed so failures are reproducible. */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("GraftDataset private-API bridge is pinned to the verified Spark line") {
    // GraftDataset reaches two private[sql] members
    // (classic.Dataset.ofRows, classic.ExpressionUtils.column) and
    // GraftParquet two private[parquet] ones
    // (ParquetFileFormat.readParquetFootersInParallel / readSchema, plus
    // the summary-first footer choice it copies from schema inference),
    // all verified against Spark 4.1.2. A Spark upgrade can break them
    // SILENTLY (signatures drift, behavior changes, no compile error
    // from the package-namespace trick). Fence: fail loudly on any
    // version outside the verified 4.1.x line so the bridges are
    // re-verified, not trusted.
    assert(org.apache.spark.SPARK_VERSION.startsWith("4.1."),
      s"Spark ${org.apache.spark.SPARK_VERSION}: re-verify the " +
        "GraftDataset private-API bridge (ofRows / ExpressionUtils.column) " +
        "and the GraftParquet footer bridge (ParquetFileFormat." +
        "readParquetFootersInParallel / readSchema; TableReadSpec checks " +
        "its schemas against spark.read.parquet) against this version, " +
        "then bump the pin here and in their scaladocs")
  }

  test("TopKAggregator equals sort-and-take for any input in any order") {
    val agg = new graft.functions.TopKAggregator(5)
    val gen = for {
      xs <- Gen.listOf(Gen.chooseNum(-1e9, 1e9))
      splits <- Gen.chooseNum(1, 8)
    } yield (xs, splits)
    samples(gen).foreach { case (xs, splits) =>
      val chunks = xs.grouped(math.max(1, xs.length / splits)).toList
      val merged = chunks
        .map(c => c.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) == xs.sorted(Ordering[Double].reverse).take(5),
        s"input $xs split $splits")
    }
  }

  test("TopKPairAggregator equals sort-and-take and dedups duplicate pairs") {
    val agg = new graft.functions.TopKPairAggregator(5)
    val pair = for {
      s <- Gen.chooseNum(-1e6, 1e6)
      id <- Gen.chooseNum(0L, 50L)
    } yield (s, id)
    val gen = for {
      xs <- Gen.listOf(pair)
      dups <- Gen.someOf(xs) // replay a subset — multi-probe duplicates
      splits <- Gen.chooseNum(1, 8)
    } yield (xs ++ dups, xs, splits)
    samples(gen).foreach { case (withDups, xs, splits) =>
      val chunks = withDups.grouped(math.max(1, withDups.length / splits)).toList
      val merged = chunks
        .map(c => c.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val expect = xs.distinct
        .sortBy { case (s, id) => (-s, id) }.take(5)
      assert(agg.finish(merged) == expect, s"input $withDups split $splits")
    }
  }

  test("MisraGries never loses a heavy hitter and never exceeds k counters") {
    val k = 8
    val agg = new graft.functions.MisraGriesAggregator(k)
    val gen = for {
      xs <- Gen.nonEmptyListOf(Gen.chooseNum(0, 30).map(i => s"t$i"))
      splits <- Gen.chooseNum(1, 8)
    } yield (xs, splits)
    samples(gen).foreach { case (xs, splits) =>
      val chunks = xs.grouped(math.max(1, xs.length / splits)).toList
      val merged = chunks
        .map(c => c.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      assert(merged.size <= k, s"over $k counters for $xs split $splits")
      // the MG guarantee: true count > N/(k+1) ⇒ the token survives
      val n = xs.length
      val heavy = xs.groupBy(identity).collect {
        case (t, occ) if occ.length * (k + 1) > n => t
      }.toSet
      val survivors = agg.finish(merged).toSet
      assert(heavy.subsetOf(survivors),
        s"lost heavy hitters ${heavy -- survivors} in $xs split $splits")
    }
  }

  test("KmvSketch estimates distincts within theory error and round-trips") {
    val agg = graft.functions.KmvSketchAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(1L), k = 256)
    val gen = Gen.chooseNum(1, 20000)
    samples(gen, 30).foreach { n =>
      // two halves built separately then merged — exercises the union path
      val (a, b) = (new graft.functions.KmvSketch(256), new graft.functions.KmvSketch(256))
      (0 until n).foreach(i => (if (i % 2 == 0) a else b).update(i.toLong * 2654435761L))
      a.merge(agg.deserialize(agg.serialize(b))) // serialize round-trip inline
      val est = a.estimate
      val tol = if (n < 256) 0.0 else 4.0 / math.sqrt(256) // 4σ
      assert(math.abs(est - n) <= math.max(1.0, n * tol),
        s"KMV estimate $est for $n distincts")
    }
  }

  test("VecSumAgg merge matches element-wise sum; serialize round-trips") {
    val dim = 8
    val gen = Gen.listOf(Gen.listOfN(dim, Gen.chooseNum(-1000.0, 1000.0)))
    samples(gen, 100).foreach { vecs =>
      val agg = graft.functions.VecSumAgg(
        org.apache.spark.sql.catalyst.expressions.Literal(1), dim)
      val bufs = vecs.map { v =>
        val b = agg.createAggregationBuffer()
        v.zipWithIndex.foreach { case (x, i) => b(i) += x.toFloat }
        b
      }
      val total = bufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
      val expected = (0 until dim).map(i => vecs.map(_(i).toFloat.toDouble).sum)
      (0 until dim).foreach(i => assert(math.abs(total(i) - expected(i)) < 1e-6))
      assert(agg.deserialize(agg.serialize(total)).sameElements(total))
    }
  }

  test("KllSketch serialize/deserialize round-trips the quantile state") {
    val agg = graft.functions.KllQuantileAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0), Seq(0.25, 0.5, 0.9))
    val rnd = new scala.util.Random(11)
    val sk = new graft.functions.KllSketch(200)
    (1 to 5000).foreach(_ => sk.update(rnd.nextDouble() * 100))
    val back = agg.deserialize(agg.serialize(sk))
    assert(back.count == sk.count)
    for (q <- Seq(0.25, 0.5, 0.9))
      assert(back.quantile(q) == sk.quantile(q),
        s"quantile $q changed across serialization")
  }

  test("KllSketch: merged partitions track exact ranks within 3%") {
    val rnd = new scala.util.Random(7)
    val data = Array.fill(20000)(rnd.nextDouble() * 1000)
    // simulate map-side partials + merge, as Spark would execute it
    val a = new graft.functions.KllSketch(200)
    val b = new graft.functions.KllSketch(200)
    data.take(10000).foreach(a.update)
    data.drop(10000).foreach(b.update)
    a.merge(b)
    val sorted = data.sorted
    for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val est = a.quantile(q)
      val rank = sorted.count(_ <= est).toDouble / data.length
      assert(math.abs(rank - q) <= 0.03, s"KLL q=$q landed at rank $rank")
    }
  }

  test("CosineSim eval is symmetric, bounded, and 1 on self") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // typed placeholder children: eval reads the children's element
    // types (float vs double accessors) from the expression tree
    val arrLit = Literal.create(Seq.empty[Float],
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    val expr = graft.functions.CosineSim(arrLit, arrLit)
    val vec = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(_.exists(_ != 0.0f))
    val pairGen = for { a <- vec; b <- vec } yield (a, b)
    samples(pairGen).foreach { case (a, b) =>
      val ad = new GenericArrayData(a.toArray)
      val bd = new GenericArrayData(b.toArray)
      val ab = expr.nullSafeEval(ad, bd).asInstanceOf[Double]
      val ba = expr.nullSafeEval(bd, ad).asInstanceOf[Double]
      assert(ab == ba)
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
      assert(math.abs(expr.nullSafeEval(ad, ad).asInstanceOf[Double] - 1.0) < 1e-9)
    }
  }

  test("CdcBoundaries matches the declarative md5-window rule on any string") {
    // reference implementation: the exact rule the mm10 oracle replays —
    // 1-based char positions i in [8, len] whose trailing 8-char window
    // md5-hexes to a leading '0'
    def reference(t: String): Seq[Int] = {
      val cps = t.codePointCount(0, t.length)
      (8 to cps).filter { i =>
        val from = t.offsetByCodePoints(0, i - 8)
        val to = t.offsetByCodePoints(0, i)
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(t.substring(from, to).getBytes("UTF-8"))
        (d(0) & 0xF0) == 0
      }
    }
    val gen = for {
      n <- Gen.chooseNum(0, 64)
      // mix ASCII with multi-byte chars so the offset walk is exercised
      cs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaNumChar, 1 -> Gen.const('é'), 1 -> Gen.const('→')))
    } yield cs.mkString
    samples(gen, 300).foreach { t =>
      val got = graft.functions.CdcBoundaries
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .toIntArray().toSeq
      assert(got == reference(t), s"mismatch on ${t.take(40)}")
    }
  }
}
