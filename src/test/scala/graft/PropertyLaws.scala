package graft

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.functions._

import graft.streaming.Grouper
import graft.operators.TextAnalysis
import graft.functions.Functions._

/** Algebraic laws from SURVEY §5.2: result-arity and scalar-broadcast
  * (the reference's core contracts, `core.clj:72-76`), dedup idempotence,
  * aggregation partition-invariance (partial ≡ final), and similarity
  * function properties.
  */
object PropertyLaws extends Properties("graft") {

  // streaming rounds are seconds each — keep sample counts proportionate
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = Session.local(4)
  import spark.implicits._

  private val smallInts = Gen.listOf(Gen.chooseNum(-100, 100))

  property("sort-rank quantiles equal built-in exact percentile") = {
    val rows = Gen.nonEmptyListOf(for {
      g <- Gen.chooseNum(0, 3)
      v <- Gen.chooseNum(-1000, 1000)
    } yield (g, v.toDouble))
    forAll(rows, Gen.chooseNum(1, 99)) { (xs, pRaw) =>
      val p = pRaw / 100.0
      val df = xs.toDF("g", "v").repartition(5) // groups split across partitions
      val got = graft.operators.Quantiles.exactQuantiles(df, Seq("g"), "v", Seq(p))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val exp = df.groupBy($"g").agg(percentile($"v", lit(p)).as("q"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      got.keySet == exp.keySet &&
        got.forall { case (g, q) => math.abs(q - exp(g)) < 1e-9 }
    }
  }

  property("dedup is idempotent") = forAll(smallInts) { xs =>
    val df = xs.toDF("v")
    val once = df.dropDuplicates("v")
    once.count() == once.dropDuplicates("v").count() &&
      once.count() == xs.distinct.size
  }

  property("aggregation is partition-invariant (partial ≡ final)") =
    forAll(smallInts, Gen.chooseNum(1, 8)) { (xs, parts) =>
      val df = xs.map(x => (x % 5, x.toLong)).toDF("k", "v")
      val direct = df.groupBy($"k").agg(sum($"v")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val repart = df.repartition(parts, $"k").groupBy($"k").agg(sum($"v"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      direct == repart
    }

  property("jaccard is bounded, symmetric, and reflexive on shingle sets") =
    forAll(Gen.listOfN(6, Gen.identifier), Gen.listOfN(6, Gen.identifier)) { (wa, wb) =>
      val df = Seq((0L, wa.mkString(" ")), (1L, wb.mkString(" ")))
        .toDF("id", "text")
        .select($"id", TextAnalysis.shingleSet($"text", 2).as("s"))
      val pairs = df.as("a").crossJoin(df.as("b"))
        .select($"a.id".as("i"), $"b.id".as("j"),
          TextAnalysis.jaccard($"a.s", $"b.s").as("jac"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
      val selfOk = pairs((0L, 0L)).forall(v => math.abs(v - 1.0) < 1e-12)
      val symOk = pairs((0L, 1L)) == pairs((1L, 0L))
      val boundOk = pairs.values.flatten.forall(v => v >= 0.0 && v <= 1.0)
      selfOk && symOk && boundOk
    }

  property("cosine similarity is symmetric and reflexive") =
    forAll(Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
        .suchThat(_.exists(_ != 0.0f))) { v =>
      val df = Seq((0L, v.toArray), (1L, v.map(x => -x).toArray))
        .toDF("id", "e")
      val c = df.as("a").crossJoin(df.as("b"))
        .select($"a.id".as("i"), $"b.id".as("j"),
          cosine_similarity($"a.e", $"b.e").as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      math.abs(c((0L, 0L)) - 1.0) < 1e-9 &&
        c((0L, 1L)) == c((1L, 0L)) &&
        math.abs(c((0L, 1L)) + 1.0) < 1e-9
    }

  property("domain rebalancing is deterministic, a subset, and near target rates") =
    forAll(Gen.chooseNum(2, 30), Gen.chooseNum(50, 200)) { (target, rows) =>
      val df = (0 until rows).map(i => (i.toLong, s"dom${i % 3}")).toDF("id", "dom")
      val a = graft.operators.Mixing.rebalanceDomains(df, "dom", "id", target.toLong)
        .select("id").collect().map(_.getLong(0)).toSet
      val b = graft.operators.Mixing.rebalanceDomains(df, "dom", "id", target.toLong)
        .select("id").collect().map(_.getLong(0)).toSet
      val all = (0L until rows).toSet
      // same admission every run; admitted ⊆ input; a domain at or below
      // target keeps everything (rate clamps at 1)
      val perDom = rows / 3 + 1
      (a == b) && a.subsetOf(all) &&
        (perDom > target || a.size == rows)
    }

  property("temperature rates: shares sum to 1 pre-cap, expected total ≤ target, τ=1 is natural") =
    forAll(Gen.chooseNum(2, 4), Gen.chooseNum(100, 400), Gen.oneOf(0.3, 0.5, 0.7, 1.0)) {
      (nDoms, perDom, tau) =>
        val counts = (0 until nDoms).map(d => (d + 1) * perDom) // distinct sizes
        val df = counts.zipWithIndex.flatMap { case (n, d) =>
          (0 until n).map(i => (d.toLong * 1000000 + i, s"dom$d"))
        }.toDF("id", "dom")
        val target = counts.sum / 2L
        val rates = graft.operators.Mixing
          .temperatureRates(df, "dom", tau, target)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        // expected kept = Σ n_d·rate_d never exceeds the target (rates
        // only ever shrink via the cap), up to the 6dp rounding slack —
        // each rate can round UP by 5e-7, weighted by its domain size
        val expTotal = rates.values.map { case (n, r) => n * r }.sum
        val natural = tau == 1.0 && rates.values.forall { case (_, r) =>
          math.abs(r - math.min(1.0, target.toDouble / counts.sum)) < 1e-6
        }
        rates.size == nDoms &&
          rates.values.forall { case (_, r) => r > 0 && r <= 1.0 } &&
          expTotal <= target + counts.sum * 5e-7 + 1e-9 &&
          (tau != 1.0 || natural)
    }

  property("winnowing guarantee: docs sharing a long substring share a fingerprint") =
    forAll(Gen.identifier.suchThat(_.length >= 10),
      Gen.identifier, Gen.identifier) { (shared, pre, post) =>
      // Schleimer et al.'s core detection guarantee: with k-gram size k
      // and window w, any match of length >= w + k - 1 is caught — the
      // shared block here is >= 10 chars vs w + k - 1 = 5 + 4 - 1 = 8
      val df = Seq((1L, pre + " " + shared + " x"), (2L, "y " + shared + " " + post))
        .toDF("id", "text")
        .select($"id", winnow_fingerprint($"text", k = 4, w = 5).as("fp"))
      val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      (fps(1L) & fps(2L)).nonEmpty
    }

  property("splitByHash partitions every id and matches the hash boundaries") =
    forAll(Gen.chooseNum(2, 5), Gen.chooseNum(50, 300)) { (nSplits, rows) =>
      val weights = (1 to nSplits).map(i => s"s$i" -> i.toDouble)
      val df = (0L until rows.toLong).toDF("id")
      val got = graft.operators.Mixing.splitByHash(df, "id", "split", weights)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // reference assignment computed independently from the same formula
      val total = weights.map(_._2).sum
      val bounds = weights.map(_._2).scanLeft(0.0)(_ + _).tail
        .map(c => math.floor(1000 * c / total).toLong)
      val exp = (0L until rows.toLong).map { id =>
        val slot = java.lang.Math.floorMod(
          java.lang.Math.floorMod(id, 2147483648L) * 2654435761L, 1000L)
        // floor rounding can leave slots past the last bound; they belong
        // to the final split (the operator's otherwise-branch)
        val idx = bounds.indexWhere(slot < _)
        id -> weights(if (idx < 0) weights.size - 1 else idx)._1
      }.toMap
      got.size == rows && got == exp
    }

  property("contamination stats never exceed the doc's own gram count") =
    forAll(Gen.chooseNum(1, 8), Gen.chooseNum(3, 15)) { (nEval, nCorpus) =>
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      def doc(seed: Int) =
        (0 until 6).map(j => vocab((seed * 7 + j * 3) % vocab.size)).mkString(" ")
      val corpus = (0 until nCorpus).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
      val eval = (0 until nEval).map(i => (1000L + i, doc(i + 2))).toDF("doc_id", "text")
      val stats = graft.operators.Decontaminate
        .contaminationStats(corpus, eval, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gramCounts = corpus
        .select($"doc_id", size(TextAnalysis.shingleSet($"text", 3)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      stats.forall { case (id, n) => n >= 1 && n <= gramCounts(id) }
    }

  property("grouper: |results| = |items| with a map proc (result-arity)") =
    forAll(Gen.listOfN(5, Gen.listOf(Gen.chooseNum(-50, 50)))) { batches =>
      val g = Grouper.start[Int, Int](spark,
        ds => ds.collect().toSeq.map(_ * 2), capacity = 1000, intervalMs = None)
      try {
        val futures = batches.flatten.map(g.submit(_))
        g.close()
        val results = futures.map(Await.result(_, 60.seconds))
        results.length == batches.flatten.length &&
          results == batches.flatten.map(_ * 2)
      } finally if (g.isRunning) g.close()
    }

  property("grouper: scalar result broadcasts to every item") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-50, 50))) { xs =>
      val g = Grouper.startScalar[Int, Long](spark,
        ds => ds.count(), capacity = 1000, intervalMs = None)
      try {
        val futures = xs.map(g.submit(_))
        g.close()
        val results = futures.map(Await.result(_, 60.seconds))
        results.toSet == Set(xs.length.toLong)
      } finally if (g.isRunning) g.close()
    }

  // one step of a grouper schedule: submit an item (whose batch then
  // throws when `bad`), or flush the accumulating batch now
  private sealed trait Step
  private final case class Submit(bad: Boolean) extends Step
  private case object Flush extends Step

  private val schedules = for {
    steps <- Gen.listOf(Gen.frequency(
      5 -> Gen.const(Submit(bad = false)), 1 -> Gen.const(Submit(bad = true)),
      2 -> Gen.const(Flush)))
    parallelism <- Gen.chooseNum(1, 4)
    capacity <- Gen.chooseNum(2, 20)
    interval <- Gen.option(Gen.chooseNum(5L, 50L))
  } yield (steps, parallelism, capacity, interval)

  property("grouper: every request completes exactly once under submit, flushNow, failing batches and close") =
    forAll(schedules) { case (steps, parallelism, capacity, interval) =>
      val submits = steps.collect { case s: Submit => s }
      val n = submits.length
      // request i carries i, or -(i + 1) when its batch must throw
      val values = submits.zipWithIndex.map { case (s, i) => if (s.bad) -(i + 1) else i }
      def index(v: Int) = if (v < 0) -v - 1 else v
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
      val callbacks, errbacks, completions = new java.util.concurrent.atomic.AtomicIntegerArray(n)
      val g = Grouper.start[Int, Int](spark, ds => {
        val xs = ds.collect().toSeq
        batches.add(xs)
        if (xs.exists(_ < 0)) throw new RuntimeException("bad item")
        xs.map(_ * 2)
      }, capacity = capacity, intervalMs = interval, parallelism = parallelism)
      val futures = try {
        var i = 0
        steps.flatMap {
          case Flush => g.flushNow(); None
          case Submit(_) =>
            val id = i
            i += 1
            val f = g.submit(values(id), callback = _ => { callbacks.incrementAndGet(id); () },
              errback = _ => { errbacks.incrementAndGet(id); () })
            f.onComplete(_ => { completions.incrementAndGet(id); () })(
              scala.concurrent.ExecutionContext.parasitic)
            Some(f)
        }
      } finally g.close()
      val outcomes = futures.map(f => scala.util.Try(Await.result(f, 60.seconds)))
      // onComplete runs on the completing thread, possibly just after the
      // waiter above saw the future complete
      val deadline = System.nanoTime() + 10000000000L
      while ((0 until n).exists(completions.get(_) == 0) && System.nanoTime() < deadline)
        Thread.sleep(5)
      val seen = batches.asScala.toSeq
      val batchOf = seen.flatMap(b => b.map(v => index(v) -> b)).toMap
      val inOrder = seen.forall(b => b.map(index) == b.map(index).sorted)
      val deliveredOnce = seen.flatten.map(index).sorted == (0 until n)
      inOrder && deliveredOnce && (0 until n).forall { i =>
        val failedBatch = batchOf(i).exists(_ < 0)
        callbacks.get(i) + errbacks.get(i) == 1 && completions.get(i) == 1 &&
          (if (failedBatch) errbacks.get(i) == 1 && outcomes(i).isFailure
           else outcomes(i) == scala.util.Success(values(i) * 2))
      }
    }
}
