package perfbench

import java.time.Duration
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, FuzzyJoin, IneqJoin, ThetaJoin}

/** The range-join half of `join_dedup`: the paper's operators over cached
  * in-memory tables.
  *
  * Inputs, from the seed:
  *  - `left` (lid, x, ts, g): x spread evenly over [0, 1000), one row per
  *    second of `ts`, a group key g;
  *  - `right` (rid, y): over the broadcast threshold; 40% of its rows sit
  *    on three hot y values;
  *  - `small` (sid, y): under the broadcast threshold;
  *  - `events` (eid, ets, g): the as-of join's right side.
  *
  * Every op reduces its join to one row (pair count plus two
  * order-independent checksums of the (left id, right id) pairs), checked
  * against the same numbers computed on the driver from the generated
  * arrays. No index files are written, so `sources` and `streaming` read 0.
  */
final class NonequiJoin(ctx: Ctx) extends Workload {
  import NonequiJoin._

  val ops: Seq[String] =
    Seq("fuzzy_band", "ineq_broadcast", "ineq_shuffled_skew", "theta_range", "asof_by")

  private var d: Data = _
  private var expect: Map[String, Agg] = Map.empty
  private var frames: Seq[DataFrame] = Nil
  private var left, right, small, events, leftHigh: DataFrame = _

  def generate(): Unit = {
    d = Data(ctx.args.seed)
    expect = Reference.all(d)
  }

  def bootstrap(): Unit = {
    frames.foreach(_.unpersist(blocking = true))
    val spark = ctx.spark
    import spark.implicits._
    left = d.lid.indices.map(i => (d.lid(i), d.x(i), d.ts(i), d.g(i))).toDF("lid", "x", "tsUs", "g")
      .select(col("lid"), col("x"), timestamp_micros(col("tsUs")).as("ts"), col("g"))
    right = d.rid.indices.map(i => (d.rid(i), d.y(i))).toDF("rid", "y")
    small = d.sid.indices.map(i => (d.sid(i), d.sy(i))).toDF("sid", "y")
    events = d.eid.indices.map(i => (d.eid(i), d.ets(i), d.eg(i))).toDF("eid", "etsUs", "g")
      .select(col("eid"), timestamp_micros(col("etsUs")).as("ets"), col("g"))
    frames = Seq(left, right, small, events).map(_.cache())
    frames.foreach(_.count())
    left = frames(0); right = frames(1); small = frames(2); events = frames(3)
    leftHigh = left.select(col("lid"), (lit(1000.0) - col("x") * lit(HighScale)).as("x"))
  }

  private def pairAgg(l: String, r: String)(df: DataFrame): DataFrame = {
    val h = xxhash64(col(l), col(r))
    df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), bit_xor(h))
  }

  private def checkAgg(op: String)(rows: Array[Row]): Option[String] =
    Checks.agg(expect(op), Agg(rows.head.getLong(0),
      if (rows.head.isNullAt(1)) 0L else rows.head.getLong(1),
      if (rows.head.isNullAt(2)) 0L else rows.head.getLong(2)))

  def round(): Unit = {
    ctx.dfOp("fuzzy_band")(FuzzyJoin.numeric(left, right, FuzzyTol,
      leftOn = Some("x"), rightOn = Some("y")))(pairAgg("lid", "rid"))(checkAgg("fuzzy_band"))
    ctx.dfOp("ineq_broadcast")(IneqJoin(left, small, "<=",
      leftOn = Some("x"), rightOn = Some("y")))(pairAgg("lid", "sid"))(checkAgg("ineq_broadcast"))
    ctx.dfOp("ineq_shuffled_skew")(IneqJoin(leftHigh, right, "<=",
      leftOn = Some("x"), rightOn = Some("y")))(pairAgg("lid", "rid"))(checkAgg("ineq_shuffled_skew"))
    ctx.dfOp("theta_range")(ThetaJoin(left, small, thetaCond,
      leftOn = Some("x"), rightOn = Some("y")))(pairAgg("lid", "sid"))(checkAgg("theta_range"))
    ctx.dfOp("asof_by")(AsOfJoin.time(left, events, AsofTol, rightId = "eid",
      leftOn = Some("ts"), rightOn = Some("ets"), by = Seq("g")))(pairAgg("lid", "eid"))(checkAgg("asof_by"))
  }

  override def close(): Unit = frames.foreach(_.unpersist())
}

/** Pair count and two checksums over a join's (left id, right id) pairs:
  * the sum of the low 32 bits of each pair's xxhash64, and their xor.
  */
final case class Agg(count: Long, sum32: Long, xor: Long)

object NonequiJoin {
  val NLeft = 10000
  val NRight = 10000
  val HotShare = 0.4
  val NHot = 3
  val NSmall = 100
  val NEvents = 7000
  val Groups = 16
  val FuzzyTol = 0.05
  val ThetaHalfWidth = 5.0
  val HighScale = 0.005
  val AsofTol: Duration = Duration.ofSeconds(30)
  val BaseUs = 1700000000L * 1000000L

  /** Band ±ThetaHalfWidth around the right key, plus a residual over both sides. */
  def thetaCond(l: Column, r: Column): Column =
    l >= r - lit(ThetaHalfWidth) && l <= r + lit(ThetaHalfWidth) &&
      pmod(floor(l * lit(100.0)) + floor(r * lit(100.0)), lit(3)) =!= lit(0)

  def thetaRef(x: Double, y: Double): Boolean =
    x >= y - ThetaHalfWidth && x <= y + ThetaHalfWidth &&
      Math.floorMod(math.floor(x * 100.0).toLong + math.floor(y * 100.0).toLong, 3L) != 0L

  /** The generated tables as driver-side arrays. Sizes are fixed; the seed
    * moves values only, so every seed does the same amount of work.
    */
  final case class Data(
      lid: Array[Long], x: Array[Double], ts: Array[Long], g: Array[Int],
      rid: Array[Long], y: Array[Double],
      sid: Array[Long], sy: Array[Double],
      eid: Array[Long], ets: Array[Long], eg: Array[Int])

  object Data {
    def apply(seed: Long): Data = {
      val rng = new SplittableRandom(seed)
      def spread(i: Int, n: Int) = (i + rng.nextDouble()) / n * 1000.0
      val lid = Array.tabulate(NLeft)(_.toLong)
      val x = Array.tabulate(NLeft)(i => spread(i, NLeft))
      val ts = Array.tabulate(NLeft)(i => BaseUs + i * 1000000L + rng.nextLong(1000000L))
      val g = Array.fill(NLeft)(rng.nextInt(Groups))
      val nUniform = (NRight * (1 - HotShare)).toInt
      val hot = Array.tabulate(NHot)(k => 100.0 + 800.0 * (k + rng.nextDouble()) / NHot)
      val rid = Array.tabulate(NRight)(i => 1000000L + i)
      val y = Array.tabulate(NRight)(i => if (i < nUniform) spread(i, nUniform) else hot(i % NHot))
      val sid = Array.tabulate(NSmall)(i => 2000000L + i)
      val sy = Array.tabulate(NSmall)(i => spread(i, NSmall))
      val eid = Array.tabulate(NEvents)(i => 3000000L + i)
      val ets = Array.fill(NEvents)(BaseUs + rng.nextLong(NLeft * 1000000L))
      val eg = Array.fill(NEvents)(rng.nextInt(Groups))
      Data(lid, x, ts, g, rid, y, sid, sy, eid, ets, eg)
    }
  }

  /** The expected result of every op, computed on the driver. */
  object Reference {
    import org.apache.spark.sql.catalyst.expressions.XXH64

    final class Acc {
      var n = 0L; var s = 0L; var x = 0L
      def add(l: Long, r: Long): Unit = {
        val h = XXH64.hashLong(r, XXH64.hashLong(l, 42L))
        n += 1; s += h & 0xFFFFFFFFL; x ^= h
      }
      def agg: Agg = Agg(n, s, x)
    }

    /** Indices of `keys` sorted by key. */
    private def order(keys: Array[Double]): Array[Int] =
      keys.indices.sortBy(keys(_)).toArray

    /** First position in `ord` whose key is >= v. */
    private def lower(keys: Array[Double], ord: Array[Int], v: Double): Int = {
      var lo = 0; var hi = ord.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (keys(ord(m)) < v) lo = m + 1 else hi = m }
      lo
    }

    def all(d: Data): Map[String, Agg] = {
      val ry = order(d.y)
      val sy = order(d.sy)

      val fuzzy = new Acc
      for (i <- d.x.indices) {
        var j = lower(d.y, ry, d.x(i) - 2 * FuzzyTol)
        while (j < ry.length && d.y(ry(j)) <= d.x(i) + 2 * FuzzyTol) {
          if (math.abs(d.x(i) - d.y(ry(j))) <= FuzzyTol) fuzzy.add(d.lid(i), d.rid(ry(j)))
          j += 1
        }
      }

      val bcast = new Acc
      for (i <- d.x.indices; j <- lower(d.sy, sy, d.x(i)) until sy.length)
        bcast.add(d.lid(i), d.sid(sy(j)))

      val shuffled = new Acc
      for (i <- d.x.indices) {
        val xh = 1000.0 - d.x(i) * HighScale
        for (j <- lower(d.y, ry, xh) until ry.length) shuffled.add(d.lid(i), d.rid(ry(j)))
      }

      val theta = new Acc
      for (i <- d.x.indices; j <- d.sy.indices if thetaRef(d.x(i), d.sy(j)))
        theta.add(d.lid(i), d.sid(j))

      val asof = new Acc
      val tolUs = AsofTol.toNanos / 1000L
      val byGroup = d.eid.indices.groupBy(d.eg(_)).map { case (k, ix) =>
        k -> ix.sortBy(d.ets(_)).toArray }
      val byKey = Ordering[(Long, Long, Long)]
      for (i <- d.lid.indices; ev <- byGroup.get(d.g(i))) {
        // first event with ets >= ts - tol, then scan the band
        var lo = 0; var hi = ev.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (d.ets(ev(m)) < d.ts(i) - tolUs) lo = m + 1 else hi = m }
        var best = -1
        var bestKey = (Long.MaxValue, Long.MaxValue, Long.MaxValue)
        while (lo < ev.length && d.ets(ev(lo)) <= d.ts(i) + tolUs) {
          val e = ev(lo)
          val key = (math.abs(d.ts(i) - d.ets(e)), d.ets(e), d.eid(e))
          if (byKey.lt(key, bestKey)) { bestKey = key; best = e }
          lo += 1
        }
        if (best >= 0) asof.add(d.lid(i), d.eid(best))
      }

      Map("fuzzy_band" -> fuzzy.agg, "ineq_broadcast" -> bcast.agg,
        "ineq_shuffled_skew" -> shuffled.agg, "theta_range" -> theta.agg, "asof_by" -> asof.agg)
    }
  }
}
