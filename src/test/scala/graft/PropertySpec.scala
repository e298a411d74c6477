package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{AnchorCalendar, ClusterKernels, SketchKernels, VectorKernels}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import java.time.LocalDate

/** Property-based correctness: pure kernels and calendar math against
  * reference implementations / invariants over generated inputs
  * (scalacheck Gen with fixed seeds — deterministic). */
class PropertySpec extends AnyFunSuite with graft.SparkFixture {

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("minhash signature match rate estimates jaccard (128 perms)") {
    val gen = for {
      shared <- Gen.choose(0, 60)
      aOnly <- Gen.choose(1, 40)
      bOnly <- Gen.choose(1, 40)
      seed <- Gen.choose(1L, Long.MaxValue / 2)
    } yield (shared, aOnly, bOnly, seed)
    samples(gen, 40).foreach { case (shared, aOnly, bOnly, seed) =>
      val s = (1 to shared).map(i => seed + i).toArray
      val a = s ++ (1 to aOnly).map(i => seed * 31 + 1000000L + i)
      val b = s ++ (1 to bOnly).map(i => seed * 37 + 2000000L + i)
      val exact = shared.toDouble / (shared + aOnly + bOnly)
      val sa = SketchKernels.minhashSig(a, 128)
      val sb = SketchKernels.minhashSig(b, 128)
      val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
      // 128 perms: standard error sqrt(J(1-J)/128) <= 0.044; ~5 sigma
      assert(math.abs(est - exact) <= 0.25,
        s"est=$est exact=$exact shared=$shared a=$aOnly b=$bOnly")
    }
  }

  test("identical element sets give identical signatures regardless of order") {
    samples(Gen.nonEmptyListOf(Gen.long), 20).foreach { xs =>
      val arr = xs.distinct.toArray
      val shuffled = new scala.util.Random(42).shuffle(arr.toList).toArray
      assert(SketchKernels.minhashSig(arr, 64).sameElements(
        SketchKernels.minhashSig(shuffled, 64)))
    }
  }

  test("wordHash64 matches the BigInt model on arbitrary strings (incl. unicode)") {
    import org.apache.spark.unsafe.types.UTF8String
    def model(s: String): Long = {
      val h = s.codePoints().toArray.foldLeft(BigInt(0))((a, c) =>
        (a * 31 + c) % 4294967296L)
      val hi = (h * 2654435761L % 4294967296L).toLong
      val lo = (h * 2246822519L % 4294967296L).toLong
      (hi << 32) | lo
    }
    val strs = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.listOf(Gen.choose(32, 0x2FFF)).map(_.map(Character.toChars(_).mkString).mkString))
    samples(strs, 120).foreach { s =>
      assert(SketchKernels.wordHash64(UTF8String.fromString(s)) === model(s), s"'$s'")
    }
  }

  test("simhash chunk pigeonhole: hamming <= h pairs always share one of h+1 chunks") {
    // the completeness argument behind q22's candidate generation,
    // checked directly on random signature pairs
    val gen = for {
      base <- Gen.long
      flips <- Gen.choose(0, 3)
      positions <- Gen.listOfN(flips, Gen.choose(0, 63))
    } yield (base, positions)
    val widths = Seq(16, 16, 16, 16)
    val offsets = widths.scanLeft(0)(_ + _)
    samples(gen, 200).foreach { case (base, positions) =>
      val other = positions.foldLeft(base)((v, p) => v ^ (1L << p))
      val shares = (0 until 4).exists { c =>
        val mask = (1L << widths(c)) - 1
        ((base >> offsets(c)) & mask) == ((other >> offsets(c)) & mask)
      }
      assert(shares, s"hamming=${java.lang.Long.bitCount(base ^ other)}")
    }
  }

  test("zValue2 de-interleaves back to its inputs and preserves grid locality") {
    val gen = for {
      x <- Gen.choose(0L, 1023L); y <- Gen.choose(0L, 1023L)
    } yield (x, y)
    def deinterleave(z: Long, bits: Int): (Long, Long) = {
      var x = 0L; var y = 0L
      for (j <- 0 until bits) {
        x |= ((z >> (2 * j)) & 1L) << j
        y |= ((z >> (2 * j + 1)) & 1L) << j
      }
      (x, y)
    }
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pts = samples(gen, 100).distinct
    val got = pts.toDF("x", "y")
      .withColumn("z", graft.operators.Exprs.zValue2(col("x"), col("y"), 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(deinterleave(got((x, y)), 10) === ((x, y)))
    }
  }

  test("TopKAgg equals sort-take-k under arbitrary partition splits and merge orders") {
    val agg = new graft.functions.TopKAgg[(Double, Long, String)](
      3, Ordering.by { case (p, k, _) => (-p, k) })
    val rowGen = for {
      p <- Gen.choose(0, 999).map(_ / 10.0)
      k <- Gen.choose(0L, 50L) // narrow key range: force price ties
    } yield (p, k, s"n$k")
    val gen = for {
      rows <- Gen.nonEmptyListOf(rowGen)
      cut <- Gen.choose(0, 5)
    } yield (rows.distinct, cut)
    samples(gen, 60).foreach { case (rows, cut) =>
      val expected = rows.sorted(Ordering.by[(Double, Long, String), (Double, Long)] {
        case (p, k, _) => (-p, k)
      }).take(3)
      // split into partitions, reduce each, merge in a rotated order
      val parts = rows.grouped(math.max(1, cut + 1)).toList
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val rotated = parts.drop(parts.length / 2) ++ parts.take(parts.length / 2)
      val merged = rotated.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) === expected)
    }
  }

  test("Exprs.mix32 (Column) and VectorKernels.mix32Int agree on arbitrary longs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ids = samples(Gen.choose(0L, Long.MaxValue), 60).distinct
    val got = ids.toDF("x")
      .withColumn("h", graft.operators.Exprs.mix32(col("x")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { x =>
      assert(got(x) === VectorKernels.mix32Int(x), s"x=$x")
    }
  }

  test("KMV sketch: merge-order independent, and estimates land within 5/sqrt(k)") {
    val k = 64
    val agg = new graft.functions.KmvAgg(k)
    val gen = for {
      n <- Gen.choose(200, 5000)
      seed <- Gen.choose(1L, Long.MaxValue / 4)
    } yield (n, seed)
    samples(gen, 25).foreach { case (n, seed) =>
      // n distinct values, each fed 1-2 times, via a well-mixed model hash
      def mix(x: Long): Long = {
        var h = x * 0x9E3779B97F4A7C15L
        h ^= (h >>> 32); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 29)
        (h & 0xFFFFFFFFL)
      }
      val values = (1 to n).map(i => mix(seed + i))
      val stream = values ++ values.take(n / 2)
      val parts = stream.grouped(97).toList.map(_.foldLeft(agg.zero)(agg.reduce))
      val leftFold = parts.foldLeft(agg.zero)(agg.merge)
      val rightFold = parts.reverse.foldLeft(agg.zero)(agg.merge)
      assert(leftFold === rightFold, "merge must be order-independent")
      val sketch = agg.finish(leftFold)
      val est =
        if (sketch.length < k) sketch.length.toDouble
        else (k - 1) * 4294967296.0 / sketch(k - 1)
      val distinct = values.distinct.length
      // KMV relative error ~1/sqrt(k-2); allow 5 sigma
      assert(math.abs(est - distinct) / distinct < 5.0 / math.sqrt(k - 2),
        s"est=$est distinct=$distinct n=$n")
    }
  }

  test("AnchorCalendar invariants hold for arbitrary dates") {
    val dates = Gen.choose(0L, 365L * 80).map(d => LocalDate.ofEpochDay(d + 3000))
    samples(dates, 100).foreach { d =>
      val cal = AnchorCalendar(d)
      assert(cal.latestCompleteMonthStart.getDayOfMonth === 1)
      assert(!cal.latestCompleteMonthStart.isAfter(d))
      assert(cal.latestCompleteMonthEnd === cal.latestCompleteMonthStart.plusMonths(1))
      assert(cal.momMonthStart === cal.latestCompleteMonthStart.minusMonths(1))
      assert(cal.yoyMonthStart.getMonth === cal.latestCompleteMonthStart.getMonth)
      assert(cal.latestCompleteWeekStart.getDayOfWeek === java.time.DayOfWeek.MONDAY)
      val daysBack = java.time.temporal.ChronoUnit.DAYS.between(cal.latestCompleteWeekStart, d)
      assert(daysBack >= 7 && daysBack <= 13)
    }
  }

  private def floatArray(xs: Seq[Float]): GenericArrayData =
    new GenericArrayData(xs.map(x => x: Any).toArray)

  test("IVF cells: head equals nearest centroid, distances ascend, ids distinct") {
    // the quantized kernels q45/q88/q90 run: exact int64 distances, so
    // the nearest distance and the ascending order are exact equalities
    val gen = for {
      k <- Gen.choose(2, 6)
      dim <- Gen.choose(2, 12)
      cents <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-(1L << 25), 1L << 25)))
      v <- Gen.listOfN(dim, Gen.choose(-(1L << 25), 1L << 25))
    } yield (cents.map(_.toArray).toArray, v.toArray)
    samples(gen, 50).foreach { case (cents, v) =>
      val arr = new GenericArrayData(v)
      val near = ClusterKernels.nearestInt(arr, cents)
      val cells = ClusterKernels.nearestCellsInt(arr, cents, cents.length).toIntArray()
      assert(cells(0) === near.getInt(0)) // p=1 == argmin
      assert(cells.distinct.length === cells.length) // each cell once
      def d(c: Int): Long = cents(c).zip(v).map { case (a, b) => (b - a) * (b - a) }.sum
      val dists = cells.map(d)
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
      assert(dists(0) === near.getLong(1))
      // sq_dist2 is the second-nearest distance (the silhouette's b)
      assert(dists(1) === near.getLong(2))
    }
  }

  test("hyperplane seeds are collision-free across (table, bit) pairs") {
    // regression for the flat-stride seeding (t*512 + j*64 + i), where
    // bitsPerTable=16 made table 0 / bit 8 reuse table 1 / bit 0's
    // hyperplane: with independent planes the two bits must disagree
    // on some vector (P(all 50 agree) ~ 2^-50).
    val vecs = samples(Gen.listOfN(32, Gen.choose(-1f, 1f)), 50)
    def bit(v: Seq[Float], table: Int, j: Int): Long = {
      val b = VectorKernels.hyperplaneBuckets(floatArray(v), 2, 16).toLongArray()
      (b(table) >> j) & 1L
    }
    assert(vecs.exists(v => bit(v, 0, 8) != bit(v, 1, 0)))
    // and determinism: same vector, same buckets
    vecs.take(5).foreach { v =>
      assert(VectorKernels.hyperplaneBuckets(floatArray(v), 4, 8).toLongArray()
        .sameElements(VectorKernels.hyperplaneBuckets(floatArray(v), 4, 8).toLongArray()))
    }
  }

  test("batch sessionization matches a reference implementation on random streams") {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    val gen = Gen.listOfN(60, for {
      user <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 6L * 3600 * 1000)
    } yield (user, t))
    samples(gen, 5).foreach { events =>
      val rows = events.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + t), u, "view", 1.0, "{}")
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val got = graft.operators.Relational.sessionizeEvents(df).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("sessions"), r.getAs[Long]("total_events"), r.getAs[Long]("bounces")))
        .toMap
      // reference: per user, sort by (t, event_id), split on gap
      val expected = rows.groupBy(_._3).map { case (u, evs) =>
        val ts = evs.sortBy(e => (e._2.getTime, e._1)).map(_._2.getTime)
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head <= gapMs) (t :: acc.head) :: acc.tail
          else List(t) :: acc
        }
        u -> ((sessions.length.toLong, ts.length.toLong,
          sessions.count(_.length == 1).toLong))
      }
      assert(got === expected)
    }
  }

  test("skew-safe and per-user sessionizers agree on random multi-day streams") {
    import spark.implicits._
    // 3-day span with events clustered near midnights to stress the
    // bucket-boundary stitch path
    val gen = Gen.listOfN(80, for {
      user <- Gen.choose(1L, 3L)
      day <- Gen.choose(0L, 2L)
      nearMidnight <- Gen.oneOf(true, false)
      offs <- if (nearMidnight) Gen.choose(-45L * 60 * 1000, 45L * 60 * 1000)
              else Gen.choose(0L, 86399000L)
    } yield (user, day * 86400000L + (if (nearMidnight) 86400000L + offs else offs)))
    samples(gen, 5).foreach { events =>
      val base = 1709251200000L // 2024-03-01 00:00:00 UTC
      val rows = events.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, new java.sql.Timestamp(base + t), u)
      }
      val df = rows.toDF("event_id", "ts", "user_id")
      def canon(out: org.apache.spark.sql.DataFrame) = out.collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("sessions"), r.getAs[Long]("total_events"),
            r.getAs[Long]("total_duration_ms"), r.getAs[Long]("bounces")))).toMap
      assert(canon(graft.operators.Relational.sessionizeEventsScalable(df)) ===
        canon(graft.operators.Relational.sessionizeEvents(df)))
    }
  }

  test("skew-safe and per-key asof joins agree on random multi-day streams") {
    import spark.implicits._
    val base = 1709251200000L // 2024-03-01 00:00:00 UTC
    val gen = for {
      evs <- Gen.listOfN(40, for {
        u <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 3L * 86400000L)
      } yield (u, t))
      ords <- Gen.listOfN(12, for {
        u <- Gen.choose(1L, 3L); t <- Gen.choose(-86400000L, 3L * 86400000L)
        price <- Gen.choose(10.0, 500.0)
      } yield (u, t, price))
    } yield (evs, ords)
    samples(gen, 5).foreach { case (evs, ords) =>
      val events = evs.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, new java.sql.Timestamp(base + t), u, "view")
      }.toDF("event_id", "ts", "user_id", "event_type")
      val orders = ords.zipWithIndex.map { case ((u, t, p), i) =>
        (i.toLong + 1000L, u, new java.sql.Timestamp(base + t), p)
      }.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[java.lang.Long]("asof_orderkey"))).toMap
      assert(canon(graft.operators.Olap.asofJoinScalable(events, orders)) ===
        canon(graft.operators.Olap.asofJoin(events, orders)))
    }
  }

  test("streaming and batch sessionizers agree on random streams") {
    import graft.streaming.StreamSessionize
    val gen = Gen.listOfN(40, Gen.choose(0L, 4L * 3600 * 1000))
    samples(gen, 10).foreach { times =>
      val evs = times.sorted.zipWithIndex.map { case (t, i) =>
        StreamSessionize.Event(1L, i.toLong, new java.sql.Timestamp(1700000000000L + t))
      }
      // batch reference on the same events
      val gapMs = StreamSessionize.GapMs
      val ts = evs.map(_.ts.getTime)
      val ref = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head <= gapMs) (t :: acc.head) :: acc.tail
        else List(t) :: acc
      }
      // streaming update fn, all events in one batch, then timeout
      val state = new graft.streaming.TestGroupState[StreamSessionize.SessionState]
      val open = StreamSessionize.updateSessions(1L, evs.iterator, state).toList
      val total = open.length + state.value.size
      assert(total === ref.length)
      assert(open.map(_.hit_depth).sum + state.value.map(_.hits).getOrElse(0L)
        === evs.length.toLong)
    }
  }

  test("sharded token budget equals the global-order prefix sum on random corpora") {
    import spark.implicits._
    def mix32(v: Long): Long = {
      val mask = 4294967295L
      def mul(x: Long, m: Long): Long =
        (((x >> 16) * m % 4294967296L) * 65536 + (x & 65535) * m) & mask
      val a = mul(v & mask, 2654435761L)
      val b = a ^ (a >> 16)
      val d = mul(b, 2246822519L)
      d ^ (d >> 13)
    }
    val gen = for {
      n <- Gen.choose(1, 400)
      rows <- Gen.listOfN(n, for {
        toks <- Gen.choose(1L, 500L)
        tier <- Gen.choose(0L, 10L)
      } yield (toks, tier))
      parts <- Gen.choose(1, 7)
      num <- Gen.choose(0, 5)
    } yield (rows.zipWithIndex.map { case ((t, q), i) => (i.toLong, t, q) },
      parts, num)
    samples(gen, 12).foreach { case (rows, parts, num) =>
      val df = rows.toDF("doc_id", "n_tokens", "tier").repartition(parts)
      val got = operators.Pipeline.tokenBudget(df, num, 10).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      val budget = rows.map(_._2).sum * num / 10
      var cum = 0L
      val expected = rows
        .sortBy { case (id, _, tier) => (-tier, mix32(id), id) }
        .flatMap { case (id, t, _) =>
          val start = cum; cum += t
          if (start < budget) Some(id -> ((t, start, start + t > budget)))
          else None
        }.toMap
      assert(got === expected,
        s"parts=$parts num=$num n=${rows.length}")
    }
  }

  test("chunking reconstructs arbitrary token streams at any (size, stride)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 300)
      words <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "dddd", "x1"))
      chunkSize <- Gen.choose(1, 80)
      stride <- Gen.choose(1, chunkSize)
    } yield (words.mkString(" "), chunkSize, stride)
    samples(gen, 15).foreach { case (text, chunkSize, stride) =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = operators.Pipeline.chunkDocs(df, chunkSize, stride)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .sortBy(_._1)
      val w = text.split(" ", -1)
      // every chunk is the exact slice it claims to be
      chunks.foreach { case (_, start, len, ct) =>
        assert(ct === w.slice(start.toInt, (start + len).toInt).mkString(" "))
      }
      // chunk starts advance by stride from 0; coverage reaches the end
      assert(chunks.map(_._2) === chunks.indices.map(_.toLong * stride))
      val last = chunks.last
      assert(last._2 + last._3 === w.length.toLong,
        s"size=$chunkSize stride=$stride must cover the full stream")
    }
  }

  test("PQ kernels: table-lookup ADC equals direct subspace distances; codes are argmins") {
    val dim = 16; val m = 4; val k = 8; val dsub = dim / m
    val coord = Gen.choose(-(1L << 25), 1L << 25)
    val vecGen = Gen.listOfN(dim, coord).map(_.toArray)
    val bookGen = Gen.listOfN(m, Gen.listOfN(k, Gen.listOfN(dsub, coord).map(_.toArray))
      .map(_.toArray)).map(_.toArray)
    val gen = for { v <- vecGen; p <- vecGen; b <- bookGen } yield (v, p, b)
    samples(gen, 30).foreach { case (v, probe, books) =>
      def subDist(x: Array[Long], s: Int, cent: Array[Long]): Long = {
        var d = 0L; var i = 0
        while (i < dsub) { val t = x(s * dsub + i) - cent(i); d += t * t; i += 1 }
        d
      }
      val codes = ClusterKernels.pqCodes(new GenericArrayData(v), books)
      val dtab = ClusterKernels.pqDistTable(new GenericArrayData(probe), books)
      (0 until m).foreach { s =>
        val c = codes.getInt(s)
        // code s is the exact argmin of that subspace (ties -> lower id)
        val dists = books(s).map(subDist(v, s, _))
        assert(dists(c) === dists.min)
        assert(dists.indexOf(dists.min) === c)
        // ADC table entry (s, c) is the direct probe-to-code distance
        assert(dtab.getLong(s * k + c) === subDist(probe, s, books(s)(c)))
      }
      // full-vector identity: intSqDist decomposes over the subspaces
      val full = ClusterKernels.intSqDist(
        new GenericArrayData(probe), new GenericArrayData(v))
      val bySub = (0 until m).map(s =>
        subDist(probe, s, v.slice(s * dsub, (s + 1) * dsub))).sum
      assert(full === bySub)
    }
  }

  test("packed intersect equals the plain intersect, incl. negative/bounds ids") {
    // q87's adjacency encoding: delta-varint pack must be lossless, and
    // the packed-stream merge must equal Scala's set intersection on
    // every input, including negative first values (zigzag) and
    // full-range Int and Long bounds
    def packLongs(xs: Array[Long]) =
      ClusterKernels.packSorted(new GenericArrayData(xs))
    // the kernel reads longs, so the expression admits only array<bigint>
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    def packOf(xs: Seq[Any], t: ArrayType) =
      graft.functions.PackSorted(Literal.create(xs, t)).checkInputDataTypes()
    assert(packOf(Seq(1L, 2L), ArrayType(LongType)).isSuccess)
    assert(packOf(Seq(1, 2), ArrayType(IntegerType)).isFailure)
    def check(sa: Array[Long], sb: Array[Long], pa: Array[Byte], pb: Array[Byte]): Unit = {
      val got = ClusterKernels.packedIntersect(pa, pb).toLongArray()
      val expected = (sa.toSet & sb.toSet).toArray.sorted
      assert(got.sameElements(expected),
        s"a=${sa.mkString(",")} b=${sb.mkString(",")}")
    }
    val gen = for {
      a <- Gen.listOf(Gen.choose(-100, 100))
      b <- Gen.listOf(Gen.choose(-100, 100))
    } yield (a, b)
    val intCases = samples(gen, 50).map { case (a, b) =>
      (a.distinct.sorted.toArray, b.distinct.sorted.toArray)
    } ++ Seq(
      (Array.empty[Int], Array(1, 2, 3)),
      (Array(1, 2, 3), Array.empty[Int]),
      (Array(Int.MinValue, -7, 0, Int.MaxValue), Array(Int.MinValue, -7, Int.MaxValue)))
    intCases.foreach { case (sa, sb) =>
      val la = sa.map(_.toLong); val lb = sb.map(_.toLong)
      check(la, lb, packLongs(la), packLongs(lb))
    }
    val longGen = for {
      a <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
      b <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
      shared <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
    } yield ((a ++ shared).distinct.sorted.toArray, (b ++ shared).distinct.sorted.toArray)
    (samples(longGen, 50) ++ Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array(Long.MinValue, -1L, 0L, Long.MaxValue), Array(Long.MinValue, 0L, Long.MaxValue))))
      .foreach { case (la, lb) => check(la, lb, packLongs(la), packLongs(lb)) }
  }
}
