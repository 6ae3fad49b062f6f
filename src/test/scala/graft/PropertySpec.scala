package graft

import graft.functions.{MGSummary, MisraGriesAgg}
import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Seeded randomized properties for the operators whose correctness
  * rests on an argument rather than an oracle: the as-of join (both
  * directions, inner and left outer, nullable right values) against an
  * independent in-memory reference, Misra–Gries bounds on
  * adversarial Zipf streams, and prefix-filter completeness against
  * brute force on random token sets. Seeds are fixed — failures
  * reproduce exactly.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("as-of join equals an independent reference on random series") {
    import spark.implicits._
    for (seed <- Seq(7, 23, 99); forward <- Seq(false, true); leftOuter <- Seq(false, true)) {
      val rnd = new Random(seed)
      val probes = (1 to 400).map { i =>
        (rnd.nextInt(20).toLong, rnd.nextInt(10000).toLong, i.toDouble)
      }
      // every third version has a null value: the match is still that
      // whole row, never an older row's value and never a dropped probe
      val versions = (1 to 150).map { i =>
        (rnd.nextInt(20).toLong, rnd.nextInt(10000).toLong,
          if (i % 3 == 0) None else Some(s"v$i"))
      }
      // reference: latest version with vtime <= ptime per (key, probe)
      // (earliest with vtime >= ptime forward); ties on vtime resolved
      // like the operator (any of the extreme rows — make vtime unique
      // per key to avoid ambiguity)
      val vClean = versions.groupBy(v => (v._1, v._2)).map(_._2.head).toSeq
      val expected = probes.flatMap { case (k, pt, pv) =>
        val vs = vClean.filter(v => v._1 == k && (if (forward) v._2 >= pt else v._2 <= pt))
        if (vs.isEmpty) Option.when(leftOuter)((k, pt, pv, None, None))
        else {
          val best = if (forward) vs.minBy(_._2) else vs.maxBy(_._2)
          Some((k, pt, pv, Some(best._2), best._3))
        }
      }.toSet
      // the right side shares the key and time names; vtime is a copy
      // of its time column carried as a right value
      val right = vClean.toDF("key", "ptime", "vval").withColumn("vtime", col("ptime"))
      val asOf = if (forward) AsOfJoin.joinForward _ else AsOfJoin.join _
      val got = asOf(probes.toDF("key", "ptime", "pval"), right, "key", "ptime",
          Seq("vtime", "vval"), leftOuter)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.getAs[java.lang.Long](3)).map(_.longValue), Option(r.getString(4))))
        .toSet
      assert(got == expected,
        s"seed=$seed forward=$forward leftOuter=$leftOuter: " +
          s"${ (expected -- got).take(3) } missing, ${ (got -- expected).take(3) } extra")
    }
  }

  test("MG bounds hold on adversarial Zipf streams at any partitioning") {
    import spark.implicits._
    for (seed <- Seq(11, 42)) {
      val rnd = new Random(seed)
      // Zipf-ish: item i drawn with weight 1/(i+1)
      val weights = (0 until 500).map(i => 1.0 / (i + 1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val total = cum.last
      val stream = (1 to 30000).map { _ =>
        val x = rnd.nextDouble() * total
        s"item${cum.indexWhere(x <= _)}"
      }
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cap = 64
      val mg = udaf(new MisraGriesAgg(cap))
      for (parts <- Seq(2, 9)) {
        val sk = stream.toDF("w").repartition(parts)
          .agg(mg(col("w")).as("sk"))
          .selectExpr("sk.total AS total", "sk.counts AS counts")
          .as[MGSummary].head()
        assert(sk.total == stream.size)
        assert(sk.counts.size <= cap)
        val bound = stream.size.toDouble / cap
        sk.counts.foreach { case (w, est) =>
          val truth = exact.getOrElse(w, 0L)
          assert(est <= truth && truth - est <= bound,
            s"seed=$seed parts=$parts: $w est=$est exact=$truth bound=$bound")
        }
        // every item with freq > n/cap is present
        val guaranteed = exact.collect {
          case (w, c) if c > bound => w
        }.toSet
        assert((guaranteed -- sk.counts.keySet).isEmpty,
          s"seed=$seed parts=$parts missed: ${guaranteed -- sk.counts.keySet}")
      }
    }
  }

  test("banded range join equals the naive range join on random intervals") {
    import spark.implicits._
    for (seed <- Seq(3, 19); width <- Seq(1L, 7L, 100L)) {
      val rnd = new Random(seed)
      val points = (1 to 500).map(i => (rnd.nextInt(1000).toLong, i.toLong))
      val intervals = (1 to 80).map { i =>
        val s0 = rnd.nextInt(1000).toLong
        (i.toLong, s0, s0 + rnd.nextInt(30))
      }
      val expected = (for {
        (p, pid) <- points; (wid, s0, e0) <- intervals
        if p >= s0 && p <= e0
      } yield (pid, wid)).toSet
      val got = graft.plans.RangeJoin
        .pointInInterval(
          points.toDF("p", "pid"), "p",
          intervals.toDF("wid", "s0", "e0"), "s0", "e0", width)
        .select(col("pid"), col("wid")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // no duplicates (a point meets an interval in exactly one bin)
      assert(got.length == got.toSet.size, s"seed=$seed w=$width dup pairs")
      assert(got.toSet == expected, s"seed=$seed w=$width mismatch")
    }
  }

  test("prefix filtering is complete on random token sets (vs brute force)") {
    // pure-algorithm check of the completeness lemma on adversarial
    // random sets: threshold t = 4/5, global order = (df, token)
    for (seed <- Seq(5, 17, 31)) {
      val rnd = new Random(seed)
      val vocab = (0 until 60).map(i => s"t$i")
      val docs = (0 until 120).map { i =>
        // clustered sets so near-dups exist: base plus noise
        val base = vocab.drop(rnd.nextInt(8)).take(10 + rnd.nextInt(10)).toSet
        val noisy = base ++ vocab.filter(_ => rnd.nextDouble() < 0.05)
        i.toLong -> noisy
      }.toMap
      def jac(a: Set[String], b: Set[String]): Double =
        (a & b).size.toDouble / (a | b).size
      val docSeq = docs.toSeq
      val truth = (for {
        (d1, s1) <- docSeq; (d2, s2) <- docSeq
        if d1 < d2 && jac(s1, s2) >= 0.8
      } yield (d1, d2)).toSet
      // global rarest-first order
      val df = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val order = (t: String) => (df(t), t)
      val prefixes = docs.map { case (d, s) =>
        val sz = s.size
        val c = (4 * sz + 4) / 5 // ceil(0.8*sz) in exact integers
        d -> s.toSeq.sortBy(order).take(sz - c + 1).toSet
      }
      val prefSeq = prefixes.toSeq
      val candidates = (for {
        (d1, p1) <- prefSeq; (d2, p2) <- prefSeq
        if d1 < d2 && (p1 & p2).nonEmpty
      } yield (d1, d2)).toSet
      val found = candidates.filter { case (d1, d2) => jac(docs(d1), docs(d2)) >= 0.8 }
      assert(truth.nonEmpty, s"seed=$seed produced no near-dup pairs")
      assert(found == truth,
        s"seed=$seed: prefix filtering missed ${(truth -- found).take(5)}")
    }
  }
}
