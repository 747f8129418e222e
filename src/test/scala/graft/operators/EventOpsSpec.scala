package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Specs for the event-time operators: gap-based sessionization
  * (session_window semantics, gap-boundary inclusive/exclusive) and the
  * union-trick as-of join (inclusive bound, tie-break, no-match nulls). */
class EventOpsSpec extends AnyFunSuite with SharedSpark {

  test("sessionize: a gap of exactly gapSec still merges; strictly greater splits") {
    val ss = spark; import ss.implicits._
    // session_window merge is INCLUSIVE at the boundary: next == prev +
    // gap merges (windows [t, t+gap] overlap at a point); only a
    // strictly greater gap starts a new session — pinned here because
    // the DuckDB oracle's islands formulation must use the same `>`
    val ev = Seq(
      (1L, 0L, 1.0), (1L, 100L, 2.0), (1L, 1899L, 3.0),
      (1L, 3699L, 4.0), // delta exactly 1800 -> merges
      (1L, 5500L, 6.0), // delta 1801 -> new session
      (2L, 50L, 5.0)
    ).toDF("user_id", "tsec", "value")
    val out = EventOps.sessionize(ev, "user_id", "tsec", 1800L, "value")
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 0L, 3699L, 3699L, 4L, 10.0),
      (1L, 5500L, 5500L, 0L, 1L, 6.0),
      (2L, 50L, 50L, 0L, 1L, 5.0)))
  }

  test("sessionize matches the gaps-and-islands window formulation on real events") {
    val ss = spark
    val ev = {
      val raw = ss.read.parquet("/root/testdata/sf0.001/events.parquet")
      val t = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
        case _ => col("ts").cast("timestamp").cast("long")
      }
      raw.withColumn("tsec", t)
    }
    val got = EventOps.sessionize(ev, "user_id", "tsec", 1800L, "value")
      .select("user_id", "session_start", "n_events")
    // independent islands formulation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tsec")
    val naive = ev
      .withColumn("brk",
        when(col("tsec") - lag("tsec", 1).over(w) > 1800L, 1)
          .otherwise(when(lag("tsec", 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("sid", sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("tsec").as("session_start"), count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "n_events")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("the same sessionize declaration runs under Structured Streaming; closed sessions equal batch") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
    val stream = EventOps.sessionize(
      mem.toDF.toDF("user_id", "tsec", "value"),
      "user_id", "tsec", gapSec = 30L, "value", watermarkDelaySec = Some(10L))
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // batch 1: two users, one session each; batch 2 advances the
      // max event time; sentinel batches (user 99) push the watermark
      // past every real session end so append mode finalizes them
      mem.addData((1L, 100L, 1.0), (1L, 120L, 2.0), (2L, 105L, 5.0))
      q.processAllAvailable()
      mem.addData((1L, 1000L, 3.0))
      q.processAllAvailable()
      mem.addData((99L, 100000L, 0.0))
      q.processAllAvailable()
      mem.addData((99L, 200000L, 0.0))
      q.processAllAvailable()
      val streamed = ss.table("sess_stream").filter(col("user_id") =!= 99L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      val batch = EventOps.sessionize(
        Seq((1L, 100L, 1.0), (1L, 120L, 2.0), (2L, 105L, 5.0), (1L, 1000L, 3.0))
          .toDF("user_id", "tsec", "value"),
        "user_id", "tsec", 30L, "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally q.stop()
  }

  test("asofJoin: inclusive bound, max-tie on equal times, null on no match") {
    val ss = spark; import ss.implicits._
    val left = Seq(
      (10L, 1L, 100L), // match at exactly t=100 (inclusive)
      (11L, 1L, 99L),  // matches t=50
      (12L, 1L, 49L),  // no right row at/before -> nulls
      (13L, 2L, 500L)  // key with two right rows at same t -> max tie
    ).toDF("event_id", "user_id", "tsec")
    val right = Seq(
      (100L, 1L, 50L), (101L, 1L, 100L),
      (200L, 2L, 400L), (201L, 2L, 400L)
    ).toDF("view_id", "user_id", "vtsec")
    val out = EventOps.asofJoin(left, right, key = "user_id",
        leftTime = "tsec", rightTime = "vtsec",
        rightPayload = Seq("view_id", "vtsec"),
        leftTie = "event_id", rightTie = "view_id")
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq == Seq((10L, 101L), (11L, 100L), (12L, -1L), (13L, 201L)))
  }

  test("funnel: order matters, same-time stage counts, null past the stop") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      // user 1: full ordered funnel, purchase at the same second as click
      (1L, "view", 100L), (1L, "click", 150L), (1L, "purchase", 150L),
      // user 2: click BEFORE view only -> funnel stops after view
      (2L, "click", 90L), (2L, "view", 100L), (2L, "purchase", 300L),
      // user 3: never views -> all nulls
      (3L, "click", 10L),
      // user 4: views, clicks, never purchases
      (4L, "view", 10L), (4L, "click", 20L)
    ).toDF("user_id", "event_type", "tsec")
    val out = EventOps.funnel(ev, "user_id", "tsec", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 100L, 150L, 150L),
      (2L, 100L, -1L, -1L),   // the t=90 click predates the view
      (3L, -1L, -1L, -1L),
      (4L, 10L, 20L, -1L)))
    // user 2's purchase at 300 must NOT count: stage 2 (click) was never
    // reached, so stage 3 cannot be either — even though a purchase exists
  }

  test("groupPercentiles: interpolated values on a hand corpus") {
    val ss = spark; import ss.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 10.0))
      .toDF("g", "v")
    val out = EventOps.groupPercentiles(df, "g", "v", Seq(0.5, 0.9, 0.99))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // n=4: p50 at rank 1.5 -> 2.5; p90 at rank 2.7 -> 3.7; p99 at 2.97 -> 3.97
    assert(out.toSeq == Seq(("a", 4L, 2.5, 3.7, 3.97), ("b", 1L, 10.0, 10.0, 10.0)))
  }

  test("rollingCounts: RANGE frame sees simultaneous events, window slides out") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (1L, 1L, 0L, 1.0), (2L, 1L, 0L, 2.0),      // simultaneous: both see both
      (3L, 1L, 3600L, 4.0),                        // still includes t=0 (inclusive bound)
      (4L, 1L, 3601L, 8.0),                        // t=0 pair slid out
      (5L, 2L, 0L, 1.5)
    ).toDF("event_id", "user_id", "tsec", "value")
    val out = EventOps.rollingCounts(ev, "user_id", "tsec", "value", 3600L)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 2L, 3.0), (2L, 2L, 3.0), (3L, 3L, 7.0), (4L, 2L, 12.0), (5L, 1L, 1.5)))
  }

  test("histogram: floor binning, sparse bins, negative values") {
    val ss = spark; import ss.implicits._
    val df = Seq(("a", 0.0), ("a", 49.9), ("a", 50.0), ("a", 250.0), ("a", -0.1))
      .toDF("g", "v")
    val out = EventOps.histogram(df, "g", "v", 50.0)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq((-1L, -50.0, 1L), (0L, 0.0, 2L), (1L, 50.0, 1L), (5L, 250.0, 1L)))
  }

  test("retention: cohorts by first-active period, distinct actives per cell, fractions") {
    val ss = spark; import ss.implicits._
    // periods of 100s. u1 first at p0, active p0/p1/p3 (twice in p1 —
    // must count once); u2 first at p0, active p0 only; u3 first at p1,
    // active p1/p2
    val ev = Seq(
      (1L, 10L), (1L, 110L), (1L, 150L), (1L, 310L),
      (2L, 20L),
      (3L, 120L), (3L, 210L)).toDF("user_id", "tsec")
    val got = EventOps.retention(ev, "user_id", "tsec", periodSec = 100L)
      .orderBy("cohort", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (0L, 0L, 2L, 2L, 1.0),  // u1, u2
      (0L, 1L, 1L, 2L, 0.5),  // u1 (deduped within p1)
      (0L, 3L, 1L, 2L, 0.5),  // u1
      (1L, 0L, 1L, 1L, 1.0),  // u3
      (1L, 1L, 1L, 1L, 1.0))) // u3
  }

  test("asofJoin plan: one shuffle on the key, no range join") {
    val ss = spark; import ss.implicits._
    val left = Seq((1L, 1L, 10L)).toDF("event_id", "user_id", "tsec")
    val right = Seq((2L, 1L, 5L)).toDF("view_id", "user_id", "vtsec")
    val plan = EventOps.asofJoin(left, right, "user_id", "tsec", "vtsec",
      Seq("view_id", "vtsec"), "event_id", "view_id")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"as-of must not plan a join:\n$plan")
  }

  test("intervalJoinCount: [lo, hi) boundaries, key isolation, self-exclusion, zero windows") {
    val ss = spark; import ss.implicits._
    // window w1 on key A covers [100, 200): event at 100 in, at 199 in,
    // at 200 OUT, at 99 OUT; same times on key B never match; the event
    // sharing the window's id is excluded; w2 matches nothing -> 0 row
    val windows = Seq((1L, "A", 100L, 200L), (2L, "A", 5000L, 5100L))
      .toDF("win_id", "key", "lo", "hi")
    val evs = Seq(
      (1L, "A", 150L),  // id == win_id -> excluded
      (10L, "A", 100L), // lo inclusive
      (11L, "A", 199L), // last covered second
      (12L, "A", 200L), // hi exclusive
      (13L, "A", 99L),  // below lo
      (14L, "B", 150L)  // wrong key
    ).toDF("id", "key", "tsec")
    val got = EventOps.intervalJoinCount(windows, evs, bucketSec = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 2L, 2L -> 0L))
    val withSelf = EventOps.intervalJoinCount(windows, evs, bucketSec = 100L,
      excludeSelf = false).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(withSelf == Map(1L -> 3L, 2L -> 0L))
  }

  test("intervalJoinCount: a window straddling two buckets never double-counts") {
    val ss = spark; import ss.implicits._
    // bucket = 100; window [150, 250) overlaps buckets 1 and 2 and so
    // explodes into two rows — but each event lives in exactly one
    // bucket, so every match is found once: events at 150 (bucket 1)
    // and 240 (bucket 2) both count exactly once
    val windows = Seq((7L, "A", 150L, 250L)).toDF("win_id", "key", "lo", "hi")
    val evs = Seq((20L, "A", 150L), (21L, "A", 240L), (22L, "A", 250L))
      .toDF("id", "key", "tsec")
    val got = EventOps.intervalJoinCount(windows, evs, bucketSec = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(7L -> 2L))
  }

  test("intervalJoinCount plan: equi join on (key, bucket), no nested-loop join") {
    val ss = spark; import ss.implicits._
    val windows = Seq((1L, "A", 100L, 200L)).toDF("win_id", "key", "lo", "hi")
    val evs = Seq((10L, "A", 150L)).toDF("id", "key", "tsec")
    val plan = EventOps.intervalJoinCount(windows, evs, bucketSec = 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must stay an equi join:\n$plan")
  }

  test("benfordAudit: integer-string first digits, zero excluded, chi2 chain") {
    val ss = spark; import ss.implicits._
    val df = Seq(1.0, 1.5, 2.0, 19.0, 0.0).toDF("value") // 0.0 -> q=0, excluded
    val got = EventOps.benfordAudit(df, "value").orderBy("digit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    def exp(d: Int) = 4.0 * math.log(1.0 + 1.0 / d) / math.log(10.0)
    assert(got == Seq(
      (1L, 3L, r4(exp(1)), r4((3 - exp(1)) * (3 - exp(1)) / exp(1))),
      (2L, 1L, r4(exp(2)), r4((1 - exp(2)) * (1 - exp(2)) / exp(2)))))
  }

  test("winsorize: type-7 band [3.25, 7.75] on 1..10, clip keeps interior values") {
    val ss = spark; import ss.implicits._
    val df = (1 to 10).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "grp", "value")
    val got = EventOps.winsorize(df, "id", "grp", "value", pLo = 0.25, pHi = 0.75)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // lo = 1 + 0.25*9 = 3.25, hi = 1 + 0.75*9 = 7.75
    assert(got.forall { case (_, lo, hi, _) => lo == 3.25 && hi == 7.75 })
    val byId = got.map(t => t._1 -> t._4).toMap
    assert(byId(1L) == 3.25 && byId(5L) == 5.0 && byId(10L) == 7.75)
  }

  test("rfmSegments: exact quintile arithmetic, recency flips, rfm composes") {
    val ss = spark; import ss.implicits._
    // 5 users, one event each on days 0..4, values 1..5
    val ev = (0 until 5).map(i =>
      (i.toLong, i.toLong * 86400L, (i + 1).toDouble)).toDF("user_id", "tsec", "value")
    val out = EventOps.rfmSegments(ev, "user_id", "tsec", "value")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(6), r.getLong(7)))
    // user 4: most recent (recency 0) and highest value -> r=5, m=5;
    // frequency all tie at 1 -> ranks by user_id: user 0 gets f=5
    assert(out(4) == ((4L, 0L, 5L, 5L, 515L)))
    assert(out(0) == ((0L, 4L, 1L, 1L, 151L)))
    // every quintile 1..5 appears exactly once on the recency axis
    assert(out.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("markovTransitions: lag-ordered pairs, ppm shares, last event emits nothing") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (1L, 10L, "view", 1L), (1L, 20L, "click", 2L), (1L, 30L, "view", 3L),
      (2L, 10L, "view", 4L), (2L, 20L, "click", 5L),
      (3L, 5L, "buy", 6L)) // single event -> no transition
      .toDF("user_id", "tsec", "event_type", "event_id")
    val out = EventOps.markovTransitions(ev, "user_id", "tsec", "event_type", "event_id")
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("click", "view", 1L, 1000000L),
      ("view", "click", 2L, 1000000L)))
  }

  test("conversionHazard: life-table buckets, never-converters hold n_risk, pre-signup purchase censors") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (1L, 0L, "signup"), (1L, 1800L, "purchase"),       // bucket 0
      (2L, 0L, "signup"), (2L, 7200L, "purchase"),       // bucket 2
      (3L, 0L, "signup"),                                // never converts
      (4L, 100L, "signup"), (4L, 50L, "purchase"),       // purchase BEFORE signup -> censored
      (5L, 10L, "purchase")                              // no signup -> not a subject
    ).toDF("user_id", "tsec", "event_type")
    val got = EventOps.conversionHazard(ev, "user_id", "tsec", "event_type",
        from = "signup", to = "purchase", bucketSec = 3600L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 4 subjects; u1 converts in bucket 0 (risk 4), u2 in bucket 2
    // (risk 3 — u1 left, u3/u4 still at risk); cum = 1/4 then 2/4
    assert(got.toSeq == Seq(
      (0L, 4L, 1L, 250000L, 250000L),
      (2L, 3L, 1L, 333333L, 500000L)), s"got ${got.toSeq}")
  }

  test("attribution: credit conserved per conversion; remainder to last touch; lookback and same-ts excluded; nearest conversion wins") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      // user 1: three touches then a purchase at 700 — the earliest
      // touch sits exactly AT the 600 s lookback (inclusive); linear
      // splits 333333 each with the remainder (+1) on the LAST touch
      (10L, 1L, 100L, "view"), (11L, 1L, 200L, "click"), (12L, 1L, 300L, "view"),
      (13L, 1L, 700L, "purchase"),
      // user 2: a touch beyond the 600 s lookback — unattributed;
      // a same-ts touch — strictly-forward rule drops it too
      (20L, 2L, 100L, "view"), (21L, 2L, 800L, "purchase"),
      (22L, 2L, 800L, "click"),
      // user 3: two purchases — the touch credits the NEAREST one (31)
      (30L, 3L, 50L, "click"), (31L, 3L, 100L, "purchase"),
      (32L, 3L, 200L, "purchase")
    ).toDF("event_id", "user_id", "tsec", "event_type")
      .select(col("user_id"), col("tsec"), col("event_type"), col("event_id"))
    val got = EventOps.attribution(ev, "user_id", "tsec", "event_type",
        "event_id", convType = "purchase", lookbackSec = 600L)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // user 1: view@100 first (1e6 first), view@300 last (1e6 last +
    // linear remainder 333334), click@200 middle (linear 333333);
    // user 3: click@50 is both first and last of purchase 31 (1e6 in
    // every model). Users 2's touches attribute to nothing.
    assert(got == Seq(
      ("click", 2L, 2L, 1000000L, 1000000L, 1333333L),
      ("view", 2L, 1L, 1000000L, 1000000L, 666667L)), s"got $got")
    // conservation: every model's total equals 1e6 x conversions hit
    val convs = 2L
    assert(got.map(_._4).sum == convs * 1000000L)
    assert(got.map(_._5).sum == convs * 1000000L)
    assert(got.map(_._6).sum == convs * 1000000L)

    // time-decay on the same feed, half-life 200 s: user 1's ages at
    // the t=700 purchase are 600/500/400 -> 3/2/2 halvings -> weights
    // 125000/250000/250000, Σ 625000; credits 200000 (view@100),
    // 400000 (click@200), 400000 + remainder 0 (view@300 is last:
    // 1e6 - 200000 - 400000 - 400000 = 0). User 3's click@50 (age 50,
    // 0 halvings) takes the whole 1e6. Channel sums: click 400000 +
    // 1000000, view 200000 + 400000.
    val decay = EventOps.attributionDecay(ev, "user_id", "tsec", "event_type",
        "event_id", convType = "purchase", lookbackSec = 600L, halfLifeSec = 200L)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(decay == Seq(("click", 2L, 1400000L), ("view", 2L, 600000L)),
      s"decay got $decay")
    assert(decay.map(_._3).sum == convs * 1000000L, "decay credit conserved")

    // U-shaped 40/20/40 on the same feed: user 1's three touches take
    // 400000 (view@100 first) / 200000 (click@200 middle, 200000 div 1)
    // / 400000 + 0 remainder (view@300 last); user 3's lone click takes
    // 1000000. Channel sums: click 200000 + 1000000, view 800000.
    val pos = EventOps.attributionPosition(ev, "user_id", "tsec", "event_type",
        "event_id", convType = "purchase", lookbackSec = 600L)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pos == Seq(("click", 2L, 1200000L), ("view", 2L, 800000L)),
      s"position got $pos")
    assert(pos.map(_._3).sum == convs * 1000000L, "position credit conserved")
    // the two-touch 50/50 and middle-remainder rules on a dedicated
    // user: 4 touches at half-life-irrelevant spacing -> middles take
    // 100000 each (200000 div 2, remainder 0); then drop one to check
    // the n=2 split
    val ev4 = Seq(
      (40L, 4L, 10L, "view"), (41L, 4L, 20L, "click"),
      (42L, 4L, 30L, "click"), (43L, 4L, 40L, "view"),
      (44L, 4L, 100L, "purchase"),
      (50L, 5L, 10L, "view"), (51L, 5L, 20L, "click"),
      (52L, 5L, 100L, "purchase")
    ).toDF("event_id", "user_id", "tsec", "event_type")
      .select(col("user_id"), col("tsec"), col("event_type"), col("event_id"))
    val pos4 = EventOps.attributionPosition(ev4, "user_id", "tsec", "event_type",
        "event_id", convType = "purchase", lookbackSec = 600L)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    // user 4: view 400000 + 400000, clicks 100000 + 100000;
    // user 5 (n=2): view 500000 (first), click 500000 (last)
    assert(pos4 == Map("view" -> 1300000L, "click" -> 700000L), s"got $pos4")
  }

  test("attributionDecay: weight floors at 1 past 20 half-lives — all-stale conversions keep exact conservation (no sum(w)=0 divide)") {
    val ss = spark; import ss.implicits._
    // halfLife 1 s, lookback 100 s >> 20 half-lives: 1e6 < 2^20, so an
    // unfloored weight would shift to 0 for any touch >= 20 s old.
    // user 1: BOTH touches stale (ages 100/90) -> floored w=1 each,
    // sw=2, base 500000 each, remainder 0 -> the linear split.
    // user 2: stale (age 100, w=1) + near (age 1, w=500000):
    // base stale = 1e6 // 500001 = 1, base near = 5e11 // 500001 =
    // 999998, near is last -> +1 remainder = 999999.
    val ev = Seq(
      (10L, 1L, 0L, "view"), (11L, 1L, 10L, "click"),
      (12L, 1L, 100L, "purchase"),
      (20L, 2L, 0L, "view"), (21L, 2L, 99L, "click"),
      (22L, 2L, 100L, "purchase")
    ).toDF("event_id", "user_id", "tsec", "event_type")
      .select(col("user_id"), col("tsec"), col("event_type"), col("event_id"))
    val got = EventOps.attributionDecay(ev, "user_id", "tsec", "event_type",
        "event_id", convType = "purchase", lookbackSec = 100L, halfLifeSec = 1L)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // click: u1's stale 500000 (last of u1, remainder 0) + u2's near
    // 999999; view: u1's stale 500000 + u2's stale 1
    assert(got == Seq(("click", 2L, 1499999L), ("view", 2L, 500001L)),
      s"got $got")
    assert(got.map(_._3).sum == 2L * 1000000L, "credit conserved under full staleness")
  }

  test("conversionHazardCensored: censors leave the risk set after their bucket; hand life table") {
    val ss = spark; import ss.implicits._
    // study end = max ts over ALL events = 7200 (u2's purchase)
    val ev = Seq(
      (1L, 0L, "signup"), (1L, 1800L, "purchase"),       // conv bucket 0
      (2L, 0L, "signup"), (2L, 7200L, "purchase"),       // conv bucket 2
      (3L, 0L, "signup"),                                // censored at 7200 -> bucket 2
      (4L, 100L, "signup"), (4L, 50L, "purchase"),       // pre-signup purchase -> censored at (7200-100)//3600 = 1
      (5L, 10L, "purchase")                              // not a subject
    ).toDF("user_id", "tsec", "event_type")
    val got = EventOps.conversionHazardCensored(ev, "user_id", "tsec", "event_type",
        from = "signup", to = "purchase", bucketSec = 3600L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // b0: risk 4, 1 conv; b1: risk 3, u4 censors (hazard 0);
    // b2: risk 2 (u1 converted, u4 left), 1 conv + 1 censor
    assert(got.toSeq == Seq(
      (0L, 4L, 1L, 0L, 250000L, 250000L),
      (1L, 3L, 0L, 1L, 0L, 250000L),
      (2L, 2L, 1L, 1L, 500000L, 500000L)), s"got ${got.toSeq}")
  }
}
