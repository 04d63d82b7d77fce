package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Adjudicate
import graft.tools.Adjudicate.Mover

/** The adjudicator's selection logic over plain (baseline, run) maps —
  * no Spark session. */
class AdjudicateSpec extends AnyFunSuite {
  private val SF = "/data/sf0.1"
  private def rec(sf: String = SF, cpus: Option[Int] = Some(4)) =
    Bench.Record(Some(sf), cpus, Map("q1" -> 1.0), None)

  test("a baseline at another SF or core count, or without cpus, is refused") {
    assert(Bench.refusal(Some(rec()), SF, 4).isEmpty)
    assert(Bench.refusal(Some(rec(cpus = Some(32))), SF, 4).get.contains("cpus 32"))
    assert(Bench.refusal(Some(rec(cpus = None)), SF, 4).get.contains("cpus missing"))
    assert(Bench.refusal(Some(rec(sf = "/data/sf0.01")), SF, 4).get.contains("sf /data/sf0.01"))
    assert(Bench.refusal(None, SF, 4).nonEmpty)
    // a bench.json written before cpus was stamped parses as cpus-less
    val old = Bench.parseRecord(
      s"""{"metric":"total","queries":{"q1":0.5,"q2":1.25},"sf":"$SF","calibration":{"min_sec":2.0}}"""
        .getBytes("UTF-8"))
    assert(old == Bench.Record(Some(SF), None, Map("q1" -> 0.5, "q2" -> 1.25), Some(2.0)))
    assert(Bench.refusal(Some(old), SF, 4).nonEmpty)
    assert(Bench.parseRecord(s"""{"sf":"$SF","cpus":4}""".getBytes("UTF-8")).cpus.contains(4))
  }

  test("ratio movers need > 2x and > 0.15 s; just under either is not one") {
    val prev = Map("a" -> 0.1, "b" -> 0.1, "c" -> 0.2)
    // a: 2.51x, +0.151 s; b: 2.49x, +0.149 s; c: 1.995x, +0.199 s
    val run = Map("a" -> 0.251, "b" -> 0.249, "c" -> 0.399)
    val (ratio, drift) = Adjudicate.movers(prev, run, 1.0)
    assert(ratio == Seq(Mover("a", 0.1, 0.251)))
    // c misses the ratio gate but clears the 1.25x drift floor; b clears nothing
    assert(drift == Seq(Mover("c", 0.2, 0.399)))
  }

  test("drift panel: top 8 by delta, 1.25x floor waived for prev >= 1 s") {
    // 1.2x movers: only prev >= 1 s ones qualify
    val (r0, d0) = Adjudicate.movers(Map("big" -> 1.0, "small" -> 0.9),
      Map("big" -> 1.2, "small" -> 1.1), 1.0)
    assert(r0.isEmpty && d0.map(_.query) == Seq("big"))
    // twelve 1.5x drift movers with deltas 0.3 .. 1.4 s: the worst 8 stay, worst first
    val prev = (1 to 12).map(i => s"q$i" -> (0.4 + 0.2 * i)).toMap
    val run = prev.map { case (n, p) => n -> 1.5 * p }
    val (ratio, drift) = Adjudicate.movers(prev, run, 1.0)
    assert(ratio.isEmpty)
    assert(drift.map(_.query) == (12 to 5 by -1).map(i => s"q$i"))
  }

  test("host factor: clamped median, 1.0 under 20 common queries") {
    def maps(n: Int, ratio: Double) = {
      val prev = (1 to n).map(i => s"q$i" -> 1.0).toMap
      (prev, prev.map { case (k, v) => k -> v * ratio })
    }
    val (p19, r19) = maps(19, 2.0)
    assert(Adjudicate.hostFactor(p19, r19) == ((1.0, 19)))
    val (p20, r20) = maps(20, 2.0)
    assert(Adjudicate.hostFactor(p20, r20) == ((2.0, 20)))
    val (p5, r5) = maps(25, 5.0)
    assert(Adjudicate.hostFactor(p5, r5)._1 == 3.0)
    val (pt, rt) = maps(25, 0.1)
    assert(Adjudicate.hostFactor(pt, rt)._1 == 0.5)
    // baselines at or under 0.05 s carry no host signal
    assert(Adjudicate.hostFactor(p20.map { case (k, _) => k -> 0.05 }, r20) == ((1.0, 0)))
    // a uniformly 2x-slower host selects no movers once normalized
    assert(Adjudicate.movers(p20, r20, 2.0) == ((Nil, Nil)))
  }

  test("probe: early exit on contention, 7 reps for real, probe_failed when all throw") {
    val m = Mover("q", 1.0, 3.0)
    def reps(ts: Option[Double]*): () => Option[Double] = {
      val it = ts.iterator; () => it.next()
    }
    assert(Adjudicate.probe(m, 1.0, reps(Some(2.0), Some(1.4))) == ((1.4, 2, "contention")))
    assert(Adjudicate.probe(m, 1.0, reps(Seq.fill(7)(Some(2.0)): _*)) == ((2.0, 7, "real")))
    // host-normalized: 2.0 s on a 2x host is 1.0 s of code time
    assert(Adjudicate.probe(m, 2.0, reps(Some(2.0)))._3 == "contention")
    val (pm, taken, v) = Adjudicate.probe(m, 1.0, reps(None, None, None))
    assert(pm.isNaN && taken == 3 && v == "probe_failed")
  }

  test("the calibration floor is stamped only from a min of at least 3 reps") {
    // a SPARK_GRAFT_BENCH_REPS=1 run got all its reps, but one rep is no floor
    assert(!Bench.stampsCalibration(1, 1) && !Bench.stampsCalibration(2, 2))
    assert(Bench.stampsCalibration(3, 3) && Bench.stampsCalibration(3, 1))
    // a downshifted era (fewer reps than requested) is still withheld
    assert(!Bench.stampsCalibration(4, 5) && Bench.stampsCalibration(5, 5))
    assert(Bench.stampsCalibration(7, 5))
  }
}
