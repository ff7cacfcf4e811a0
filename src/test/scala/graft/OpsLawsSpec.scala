package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{Graph, Metrics, TimeSeries, TopK}

/** Randomized laws for the round-6 second-half operators: each
  * distributed implementation is replayed against a direct in-JVM
  * model on arbitrary small instances — ties, degenerate groups and
  * boundary thresholds the generators find on their own.
  */
object OpsLawsSpec extends Properties("graft.round6ops") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = Session.local(4)
  import spark.implicits._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---- weightedSssp ≡ in-JVM Bellman–Ford ----------------------------------

  private val wEdges: Gen[List[(Int, Int, Int)]] =
    Gen.listOfN(20, for {
      a <- Gen.chooseNum(0, 7); b <- Gen.chooseNum(0, 7)
      w <- Gen.chooseNum(1, 9)
    } yield (a, b, w))

  property("weightedSssp equals in-JVM hop-bounded Bellman-Ford") =
    forAll(wEdges, Gen.chooseNum(1, 4)) { (es, hops) =>
      val edges = es.filter(e => e._1 != e._2)
      if (edges.isEmpty) true
      else {
        // lightest parallel edge wins, like the operator
        val light = edges.groupBy(e => (e._1, e._2)).view
          .mapValues(_.map(_._3).min).toMap
        val seeds = Set(edges.head._1)
        var dist: Map[Int, Long] = seeds.map(_ -> 0L).toMap
        (1 to hops).foreach { _ =>
          val relaxed = for {
            ((a, b), w) <- light.toSeq
            da <- dist.get(a)
          } yield b -> (da + w)
          dist = (dist.toSeq ++ relaxed).groupBy(_._1).view
            .mapValues(_.map(_._2).min).toMap
        }
        val got = Graph.weightedSssp(
            edges.toDF("s", "d", "w"), "s", "d", "w",
            seeds.toSeq.toDF("node"), "node", hops)
          .collect()
          .map(r => r.getInt(0) -> r.getDecimal(1).longValueExact()).toMap
        got == dist
      }
    }

  // ---- labelPropagation ≡ in-JVM synchronous rounds ------------------------

  private val edges: Gen[List[(Int, Int)]] =
    Gen.listOfN(20, for {
      a <- Gen.chooseNum(0, 8); b <- Gen.chooseNum(0, 8)
    } yield (a, b))

  property("labelPropagation equals in-JVM synchronous min-tie rounds") =
    forAll(edges, Gen.chooseNum(1, 3)) { (es, rounds) =>
      val canon = es.filter(e => e._1 != e._2)
        .map(e => (e._1 min e._2, e._1 max e._2)).distinct
      if (canon.isEmpty) true
      else {
        val adj = (canon ++ canon.map(_.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var labels: Map[Int, Int] = adj.keySet.map(n => n -> n).toMap
        (1 to rounds).foreach { _ =>
          labels = adj.map { case (n, nbrs) =>
            val freq = nbrs.map(labels).groupBy(identity).view
              .mapValues(_.size).toMap
            val best = freq.toSeq.map { case (l, c) => (-c, l) }.min._2
            n -> best
          }
        }
        val got = Graph.labelPropagation(canon.toDF("a", "b"), "a", "b",
            rounds)
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
        got == labels
      }
    }

  // ---- bfsDistancesPerSeed ≡ per-seed bfsDistances -------------------------

  property("bfsDistancesPerSeed equals per-seed bfsDistances") =
    forAll(edges, Gen.chooseNum(1, 3)) { (es, depth) =>
      val e = es.filter(x => x._1 != x._2).distinct
      if (e.isEmpty) true
      else {
        val df = e.toDF("s", "d")
        val seedVals = e.map(_._1).distinct.take(3)
        val multi = Graph.bfsDistancesPerSeed(df, "s", "d",
            seedVals.toDF("node"), "node", depth)
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2))
          .toMap
        val single = seedVals.flatMap { sd =>
          Graph.bfsDistances(df, "s", "d", Seq(sd).toDF("node"), "node",
              depth)
            .collect().map(r => (sd, r.getInt(0)) -> r.getInt(1))
        }.toMap
        multi == single
      }
    }

  // ---- ksTest ≡ in-JVM ECDF max gap ----------------------------------------

  private val twoSamples: Gen[(List[Int], List[Int])] = for {
    a <- Gen.nonEmptyListOf(Gen.chooseNum(0, 12)).map(_.take(15))
    b <- Gen.nonEmptyListOf(Gen.chooseNum(0, 12)).map(_.take(15))
  } yield (a, b)

  property("ksTest equals in-JVM ECDF max gap and is side-symmetric") =
    forAll(twoSamples) { case (as, bs) =>
      val df = (as.map(("g", "A", _)) ++ bs.map(("g", "B", _)))
        .map { case (g, s, v) => (g, s, v.toDouble) }.toDF("g", "s", "x")
      val expected = {
        val values = (as ++ bs).distinct.sorted
        val na = as.size.toLong; val nb = bs.size.toLong
        val num = values.map(v =>
          math.abs(as.count(_ <= v) * nb - bs.count(_ <= v) * na)).max
        r6(num.toDouble / (na * nb).toDouble)
      }
      val dAB = Metrics.ksTest(df, "g", "s", "A", "B", "x")
        .collect()(0).getDouble(3)
      val dBA = Metrics.ksTest(df, "g", "s", "B", "A", "x")
        .collect()(0).getDouble(3)
      dAB == expected && dBA == expected
    }

  // ---- mannWhitney ≡ in-JVM midranks ---------------------------------------

  property("mannWhitney U equals in-JVM midrank computation") =
    forAll(twoSamples) { case (as, bs) =>
      val df = (as.map(("g", "A", _)) ++ bs.map(("g", "B", _)))
        .map { case (g, s, v) => (g, s, v.toDouble) }.toDF("g", "s", "x")
      val pool = as.map(("A", _)) ++ bs.map(("B", _))
      val sorted = pool.map(_._2).sorted
      def midrank(v: Int): Double = {
        val lo = sorted.indexOf(v) + 1
        val hi = sorted.lastIndexOf(v) + 1
        (lo + hi) / 2.0
      }
      val rA = as.map(midrank).sum
      val expU = rA - as.size.toLong * (as.size + 1) / 2.0
      val out = Metrics.mannWhitney(df, "g", "s", "A", "B", "x").collect()
      // degenerate pools (all values tied) are dropped by sigma > 0
      if (out.isEmpty) (as ++ bs).distinct.size == 1
      else out(0).getDouble(3) == expU
    }

  // ---- giniByGroup ≡ in-JVM rank formula -----------------------------------

  property("giniByGroup equals in-JVM rank formula, lies in [0, 1)") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 40)).map(_.take(20))) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v.toDouble) }
        .toDF("g", "id", "x")
      val out = Metrics.giniByGroup(df, "g", "x", "id").collect()
      if (vs.sum == 0) out.isEmpty
      else {
        val sorted = vs.zipWithIndex
          .sortBy { case (v, i) => (v, i) }.map(_._1.toLong)
        val n = sorted.size.toLong
        val sx = sorted.sum
        val six = sorted.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum
        val expected = r6(2.0 * six / (n.toDouble * sx) - (n + 1).toDouble / n)
        val g = out(0).getDouble(2)
        g == expected && g >= 0.0 && g < 1.0
      }
    }

  // ---- topPByGroup ≡ in-JVM prefix rule ------------------------------------

  property("topPByGroup keeps exactly the integer-rule prefix") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1, 30)).map(_.take(12)),
        Gen.chooseNum(1, 10)) { (ws, pNum) =>
      val df = ws.zipWithIndex.map { case (w, i) => ("g", s"i$i", w.toLong) }
        .toDF("g", "id", "w")
      val total = ws.map(_.toLong).sum
      val sorted = ws.zipWithIndex
        .sortBy { case (w, i) => (-w, s"i$i") }
      val expected = sorted.zipWithIndex.filter { case ((w, i), rank) =>
        val cumBefore = sorted.take(rank).map(_._1.toLong).sum
        cumBefore * 10 < total * pNum
      }.map { case ((_, i), _) => s"i$i" }.toSet
      val got = TopK.topPByGroup(df, Seq("g"), "w", "id", pNum, 10)
        .collect().map(_.getString(1)).toSet
      got == expected
    }

  // ---- decisionStump ≡ in-JVM argmax ---------------------------------------

  private val labeled: Gen[List[(Int, Int)]] =
    Gen.listOfN(20, for {
      f <- Gen.chooseNum(0, 6); y <- Gen.chooseNum(0, 1)
    } yield (f, y))

  property("decisionStump equals in-JVM exhaustive split search") =
    forAll(labeled) { rows =>
      if (rows.map(_._1).distinct.size < 2) true
      else {
        val df = rows.map { case (f, y) => ("g", f.toLong, y.toLong) }
          .toDF("g", "f", "y")
        val n = rows.size.toLong
        val p = rows.count(_._2 == 1).toLong
        val parent = ((n - p) * (n - p) + p * p).toDouble / (n.toDouble * n)
        val splits = rows.map(_._1).distinct.sorted.dropRight(1)
        val best = splits.map { t =>
          val l = rows.filter(_._1 <= t)
          val nl = l.size.toLong; val pl = l.count(_._2 == 1).toLong
          val nr = n - nl; val pr = p - pl
          val score = ((nl - pl) * (nl - pl) + pl * pl) * nr +
            ((nr - pr) * (nr - pr) + pr * pr) * nl
          val gain = score.toDouble /
            (nl.toDouble * nr.toDouble * n.toDouble) - parent
          (gain, t)
        }.maxBy { case (g, t) => (g, -t) }
        val r = Metrics.decisionStump(df, "g", "f", "y").collect()(0)
        r.getLong(2) == best._2 && r.getDouble(4) == r6(best._1)
      }
    }

  // ---- acf ≡ in-JVM Pearson per lag ----------------------------------------

  property("acf equals in-JVM Pearson over lag pairs") =
    forAll(Gen.listOfN(12, Gen.chooseNum(0, 20))) { vs =>
      if (vs.size < 3) true
      else {
        val df = vs.zipWithIndex.map { case (v, i) => ("k", i, v.toLong) }
          .toDF("k", "t", "v")
        val got = TimeSeries.acf(df, "k", "t", "v", 3)
          .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
        (1 to 3).forall { lag =>
          val pairs = vs.dropRight(lag).zip(vs.drop(lag))
            .map { case (a, b) => (a.toLong, b.toLong) }
          val n = pairs.size.toLong
          if (n < 2) !got.contains(lag)
          else {
            val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
            val sxy = pairs.map(p => p._1 * p._2).sum
            val sxx = pairs.map(p => p._1 * p._1).sum
            val syy = pairs.map(p => p._2 * p._2).sum
            val cov = n.toDouble * sxy - sx.toDouble * sy
            val vx = n.toDouble * sxx - sx.toDouble * sx
            val vy = n.toDouble * syy - sy.toDouble * sy
            if (vx <= 0 || vy <= 0) !got.contains(lag)
            else got(lag) == r6(cov / math.sqrt(vx * vy))
          }
        }
      }
    }

  // ---- boundedLevenshtein ≡ capped full levenshtein ------------------------

  private val strPair: Gen[(String, String)] = for {
    a <- Gen.listOfN(12, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    // mix of near (edits of a) and far strings; the runs of 1..7
    // deletions or insertions put the edit path on the band's edge
    b <- Gen.oneOf(
      Gen.listOfN(12, Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      Gen.chooseNum(0, 11).map(i => a.take(i) + "x" + a.drop(i + 1)),
      Gen.chooseNum(0, 11).map(i => a.take(i) + a.drop(i + 1)),
      Gen.chooseNum(0, 12).map(i => a.take(i) + "x" + a.drop(i)),
      for (d <- Gen.chooseNum(1, 7); i <- Gen.chooseNum(0, 12)) yield a.take(i) + a.drop(i + d),
      for (d <- Gen.chooseNum(1, 7); i <- Gen.chooseNum(0, 12);
           ins <- Gen.listOfN(d, Gen.oneOf('a', 'b', 'c', 'x'))) yield a.take(i) + ins.mkString + a.drop(i))
  } yield (a, b)

  property("bounded_levenshtein equals min(levenshtein, k+1)") =
    forAll(Gen.listOfN(12, strPair), Gen.chooseNum(0, 6)) { (ps, k) =>
      import org.apache.spark.sql.functions.{levenshtein, least, lit, col}
      val df = ps.toDF("a", "b")
      val out = df.select(
          graft.functions.Functions.bounded_levenshtein(col("a"),
            col("b"), k).as("bl"),
          least(levenshtein(col("a"), col("b")), lit(k + 1)).as("full"))
        .collect()
      out.forall(r => r.getInt(0) == r.getInt(1))
    }

  // the band alone, on the driver: many short two-letter strings, where
  // near-diagonal paths are common enough to reach the cell left of the
  // band, which the 12-letter pairs above rarely do
  private val bandCase: Gen[(String, String, Int)] = {
    val word = Gen.chooseNum(0, 10).flatMap(Gen.listOfN(_, Gen.oneOf('a', 'b'))).map(_.mkString)
    for (a <- word; b <- word; k <- Gen.chooseNum(0, 6)) yield (a, b, k)
  }

  private def fullLevenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(prev(j), cur(j - 1)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  property("BoundedLevenshtein.distance equals min(full DP, k+1)") =
    forAll(Gen.listOfN(500, bandCase)) { cases =>
      cases.forall { case (a, b, k) =>
        graft.functions.BoundedLevenshtein.distance(a, b, k) == math.min(fullLevenshtein(a, b), k + 1)
      }
    }

  // ---- markovAbsorption ≡ in-JVM matrix recursion --------------------------

  private val chainSeqs: Gen[List[List[Int]]] =
    Gen.listOfN(4, Gen.listOfN(6, Gen.chooseNum(0, 3)))

  property("markovAbsorption equals in-JVM recursion") =
    forAll(chainSeqs, Gen.chooseNum(1, 3)) { (seqs, steps) =>
      val rows = seqs.zipWithIndex.flatMap { case (sq, u) =>
        sq.zipWithIndex.map { case (st, i) =>
          (u.toLong, i.toLong, s"s$st")
        }
      }
      val trans = seqs.flatMap(sq => sq.zip(sq.tail))
        .map { case (a, b) => (s"s$a", s"s$b") }
      if (trans.isEmpty || !trans.exists(_._1 != "s0")) true
      else {
        val absorb = "s0"
        val counts = trans.groupBy(identity).view.mapValues(_.size).toMap
        val outTot = trans.groupBy(_._1).view.mapValues(_.size).toMap
        def t(a: String, b: String): Double =
          counts.getOrElse((a, b), 0).toDouble / outTot(a)
        val states = outTot.keySet.filter(_ != absorb)
        var q: Map[String, Double] = states.map(_ -> 0.0).toMap
        (1 to steps).foreach { _ =>
          q = states.map { s =>
            val contrib = states.toSeq.sorted
              .map(s2 => t(s, s2) * q(s2)).sum
            s -> (t(s, absorb) + contrib)
          }.toMap
        }
        val got = TimeSeries.markovAbsorption(
            rows.toDF("u", "t", "s"), "u", "t", "t", "s", absorb, steps)
          .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
        got.keySet == q.keySet &&
          // engine sums contributions in partition order, the model in
          // sorted order — equal to fp-noise within the rounded digit
          got.forall { case (s, v) => math.abs(v - r6(q(s))) < 1e-9 }
      }
    }
}
